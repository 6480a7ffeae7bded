"""pdf_cold_job: ``spark-submit --py-files <zip> jobs/extract_job.py``.

Input: a seeded raw_docs parquet table of ~2,000 docs with no doc of
1 MiB or more, so the job takes the single-path plan.  Each pass is a
fresh JVM and fresh Python workers that extract every doc and write the
four sinks (documents_spans, metrics, run_metrics, lineage).  Set-up
builds the ``--py-files`` zip, writes the input and starts one warm-up
session (``warm_session.py``) with the job's settings.  The
outputs are read back with pyarrow and checked against the
fixtures' expected text.  A traced run adds a ``--resume`` run over the
same output, which must find nothing left to extract and leave the
outputs as they were; its wall time is the job's fixed overhead.
"""

from __future__ import annotations

import os
import re
import subprocess
import time

import inputs
from eventlog import EventLog, spark_layers
from harness import ROOT, median, spark_conf
from kernel import build_pyfiles_zip, cold_import, kernel_run

# local[3], one task slot per partition: on a 4-vCPU host one vCPU stays
# free for the JVM's own threads and the client, which keeps pass times
# steadier than local[4]
SIZES = {
    "full": {"n_docs": 2000, "cores": 3, "partitions": 3},
    "tiny": {"n_docs": 64, "cores": 2, "partitions": 2},
}
SETUP_REPEATS = 5
JOB = os.path.join(ROOT, "jobs", "extract_job.py")
WARMUP = os.path.join(os.path.dirname(os.path.abspath(__file__)), "warm_session.py")
_DOCS = re.compile(r"^run=\S+ docs=(\d+) ", re.M)


def _spark_submit(ctx, cfg, app: list[str], event_dir=None):
    """``spark-submit`` of ``app`` (options, script and its arguments)
    with the benchmark's settings; returns (wall seconds, launch epoch,
    the finished process)."""
    conf = spark_conf(ctx.work, cfg["cores"], cfg["partitions"], event_dir)
    cmd = ["spark-submit", "--master", conf.pop("spark.master")]
    for k, v in conf.items():
        cmd += ["--conf", f"{k}={v}"]
    launch = time.time()
    t = time.perf_counter()
    p = subprocess.run(cmd + app, capture_output=True, text=True, timeout=170, cwd=ctx.work)
    wall = time.perf_counter() - t
    if p.returncode != 0:
        ctx.log(f"{app[-1]} exited {p.returncode}: {p.stderr[-2000:]}")
    return wall, launch, p


def _submit(ctx, cfg, zip_path, raw, out, run_id, event_dir=None, resume=False):
    """One job run; returns (wall seconds, launch epoch, exit epoch, docs
    the job reports, return code)."""
    app = ["--py-files", zip_path, JOB, "--input", raw, "--output", out, "--run-id", run_id]
    if resume:
        app.append("--resume")
    wall, launch, p = _spark_submit(ctx, cfg, app, event_dir)
    m = _DOCS.search(p.stdout)
    if p.returncode == 0 and m is None:
        ctx.log(f"job {run_id} printed no docs= line")
    return wall, launch, launch + wall, int(m.group(1)) if m else -1, p.returncode


def check_outputs(out: str, corpus) -> int:
    """Docs that are wrong in any of the four sinks."""
    import pyarrow.parquet as pq

    want = {d.doc_id: d for d in corpus.docs}
    bad: set[str] = set()
    spans = pq.read_table(os.path.join(out, "documents_spans"), columns=["doc_id", "spans"]).to_pylist()
    got = {}
    for r in spans:
        if r["doc_id"] in got:
            bad.add(r["doc_id"])
        got[r["doc_id"]] = r["spans"]
    for doc_id, d in want.items():
        s = got.get(doc_id)
        if s is None:
            bad.add(doc_id)
            continue
        text = "\n".join(x["text"] for x in s if x["kind"] != "media")
        if text != d.expected_text or len(s) != d.expected_spans:
            bad.add(doc_id)
    bad |= set(got) - set(want)

    lineage = pq.read_table(os.path.join(out, "lineage"), columns=["doc_id", "status"]).to_pylist()
    ok = {r["doc_id"] for r in lineage if r["status"] == "ok"}
    bad |= ok ^ set(want)
    if len(lineage) != len(want):  # a doc recorded twice
        bad |= set(want)
    metrics = pq.read_table(os.path.join(out, "metrics"), columns=["doc_id", "spans"]).to_pylist()
    for r in metrics:
        d = want.get(r["doc_id"])
        if d is None or r["spans"] != d.expected_spans:
            bad.add(r["doc_id"])
    run_docs = sum(pq.read_table(os.path.join(out, "run_metrics"), columns=["docs"]).column("docs").to_pylist())
    if len(metrics) != len(want) or run_docs != len(want):
        bad |= set(want)
    return len(bad)


def _timed_parts(log: EventLog, launch: float, exit_: float) -> dict:
    """Split one job run along its timeline: session start (launch to the
    first Spark action), the actions (SQL executions and jobs outside
    them: size probe, sink writes, the rest) and shutdown (last action to
    exit).  The Spark driver's time between actions is left unaccounted."""
    sql = sorted(log.sql.values(), key=lambda e: e.start_ms)
    writes = [e for e in sql if "InsertIntoHadoopFsRelationCommand" in e.plan]
    probes = [e for e in sql if "percentile_approx" in e.plan and e not in writes]
    actions = [(e.start_ms, e.end_ms) for e in sql]
    actions += [(j.start_ms, j.end_ms) for j in log.jobs.values() if j.sql_id is None]
    actions.sort()
    busy_ms, reach = 0, actions[0][0]
    for start, end in actions:
        busy_ms += max(0, end - max(start, reach))
        reach = max(reach, end)
    dur = lambda es: sum(e.end_ms - e.start_ms for e in es) / 1e3  # noqa: E731
    session = actions[0][0] / 1e3 - launch
    stop = exit_ - reach / 1e3
    return {
        "session.start_s": session,
        "extraction.probe_s": dur(probes),
        "sources.write_s": dur(writes),
        "job.other_sql_s": busy_ms / 1e3 - dur(writes) - dur(probes),
        "job.stop_s": stop,
        "job.sql_executions": len(sql),
        "job.unaccounted_s": exit_ - launch - session - busy_ms / 1e3 - stop,
    }


def run(ctx) -> dict:
    cfg = SIZES[ctx.size]
    clock = time.perf_counter
    raw = os.path.join(ctx.work, "raw_docs.parquet")
    zip_path = os.path.join(ctx.work, "pdf_extract_spark.zip")
    import pdf_extract_spark.fixtures  # noqa: F401 - imports are not set-up work
    import pyarrow.parquet  # noqa: F401

    setup_s = []
    for _ in range(SETUP_REPEATS):
        t = clock()
        build_pyfiles_zip(zip_path)
        corpus = inputs.pdf_corpus(ctx.seed, cfg["n_docs"])
        if ctx.corrupt:
            corpus.docs[0].expected_text += "!"
        inputs.write_raw_docs(corpus, raw)
        setup_s.append(clock() - t)
    n = len(corpus.docs)

    # untimed warm-up: the run's first JVM and Python worker
    warmup_s, _, p = _spark_submit(ctx, cfg, [WARMUP])
    attempted = 1
    failed = int(p.returncode != 0)

    pass_s, runs = [], []
    deadline = clock() + ctx.seconds
    while not pass_s or clock() < deadline:
        i = len(pass_s)
        out = os.path.join(ctx.work, f"out{i}")
        event_dir = os.path.join(ctx.work, f"eventlog{i}") if ctx.trace else None
        wall, launch, exit_, docs, rc = _submit(ctx, cfg, zip_path, raw, out, f"bench{i}", event_dir)
        pass_s.append(wall)
        runs.append((event_dir, launch, exit_))
        attempted += n + 1
        if rc != 0 or docs != n:
            failed += n + 1
        else:
            failed += check_outputs(out, corpus)

    result = {
        "e2e": {
            "setup_s": median(setup_s) + warmup_s,
            "pass_s": median(pass_s),
            "ops_per_s": n / median(pass_s),
        },
        "attempted": attempted,
        "failed": failed,
        "report": {
            "pass_times_s": [round(x, 3) for x in pass_s],
            "composition": corpus.composition,
            "cores": cfg["cores"],
            "unit": "docs",
        },
        "layers": {},
        "spans": [],
    }
    if ctx.trace:
        resume_s, _, _, docs, rc = _submit(ctx, cfg, zip_path, raw, out, "bench-resume", resume=True)
        result["attempted"] += 1
        result["failed"] += rc != 0 or docs != 0
        if rc == 0:
            result["failed"] += check_outputs(out, corpus)
        result["report"]["resume_s"] = resume_s
        parts = []
        for event_dir, launch, exit_ in runs:
            log = EventLog.single_in(event_dir)
            m = log.summary(log.jobs_in())
            layers = spark_layers(m)
            layers["sources.write_files"] = log.written_files()
            layers.update(_timed_parts(log, launch, exit_))
            parts.append(layers)
            result["spans"] += log.spans()
        layers = {k: median([p[k] for p in parts]) for k in parts[0]}
        layers["job.resume_s"] = resume_s
        kernel, bad, shares = kernel_run(corpus.docs)
        result["report"]["composition"]["kernel_time_share"] = shares
        result["failed"] += bad
        result["attempted"] += 2 * n
        layers.update(kernel)
        layers["kernel.spark_efficiency"] = result["e2e"]["ops_per_s"] / (
            cfg["cores"] * kernel["kernel.docs_per_s_1core"]
        )
        layers.update(cold_import(ctx.work, corpus.docs[0].content))
        result["layers"] = layers
    return result
