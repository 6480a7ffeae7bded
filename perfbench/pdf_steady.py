"""pdf_steady: ``extract_documents`` again and again on a warm session.

Input: a seeded raw_docs parquet table drawn from all fixture families,
~5% ``fx_large`` docs of 10-80 pages and one doc of at least 1 MiB
(it makes ``extract_documents`` take its two-path skew plan).  The
table is read and cached once; each timed pass runs the extraction and
ends in one aggregate row that is checked against the fixtures'
expected text.  The first of two untimed warm-up passes checks every doc.
"""

from __future__ import annotations

import os
import time

import inputs
from eventlog import EventLog, spark_layers
from harness import median, spark_conf, start_session, stop_session
from kernel import cold_import, kernel_run

# local[3]: on a 4-vCPU host one vCPU stays free for the JVM's own threads
# and the client.  Two shuffle partitions leave the third task slot to the
# giant doc's task, so it starts with the normal path instead of waiting
# for a normal task to finish; with three, pass times split into two
# modes about 0.8 s apart and the median jumped between them.
SIZES = {
    "full": {"n_docs": 2000, "cores": 3, "partitions": 2},
    "tiny": {"n_docs": 80, "cores": 2, "partitions": 4},
}
# one doc of >=1 MiB: 0.05% of the full corpus's docs and about a third
# of its single-core kernel time (the traced run reports the shares)
N_GIANT = 1
SETUP_REPEATS = 3

_TEXT = "concat_ws('\\n', transform(filter(spans, s -> s.kind != 'media'), s -> s.text))"
_DIGEST = f"cast(conv(substring(md5({_TEXT}), 1, 12), 16, 10) as bigint)"


def _per_doc(out):
    return out.selectExpr("doc_id", "n_spans", "error", f"{_DIGEST} as digest")


def _aggregate(out):
    return out.selectExpr(
        "count(1) as docs",
        "sum(n_spans) as spans",
        "count(error) as errors",
        f"sum({_DIGEST}) as digest",
        "sum(pages) as pages",
    )


def check_docs(rows, corpus) -> int:
    """Docs whose extracted text or span count differs from the golden,
    or that carry an error, or that are missing or extra."""
    want = {d.doc_id: d for d in corpus.docs}
    bad = 0
    seen = set()
    for r in rows:
        d = want.get(r["doc_id"])
        seen.add(r["doc_id"])
        if (
            d is None
            or r["error"] is not None
            or r["n_spans"] != d.expected_spans
            or r["digest"] != inputs.text_digest(d.expected_text)
        ):
            bad += 1
    return bad + len(set(want) - seen)


def check_aggregate(row, corpus) -> int:
    docs = corpus.docs
    if (
        row["docs"] == len(docs)
        and row["spans"] == sum(d.expected_spans for d in docs)
        and row["digest"] == corpus.expected_checksum()
    ):
        return row["errors"]
    return len(docs)


def run(ctx) -> dict:
    cfg = SIZES[ctx.size]
    event_dir = os.path.join(ctx.work, "eventlog") if ctx.trace else None
    conf = spark_conf(ctx.work, cfg["cores"], cfg["partitions"], event_dir)
    clock = time.perf_counter

    t = clock()
    spark = start_session(conf)
    session_s = clock() - t
    sc = spark.sparkContext
    from pdf_extract_spark.operators.extraction import extract_documents

    path = os.path.join(ctx.work, "raw_docs.parquet")
    data_s, raw = [], None
    for _ in range(SETUP_REPEATS):
        t = clock()
        corpus = inputs.pdf_corpus(ctx.seed, cfg["n_docs"], n_giant=N_GIANT)
        if ctx.corrupt:
            corpus.docs[0].expected_text += "!"
        if raw is not None:
            raw.unpersist(blocking=True)
        inputs.write_raw_docs(corpus, path)
        raw = spark.read.parquet(path).cache()
        raw.count()
        data_s.append(clock() - t)
    n = len(corpus.docs)

    # two untimed passes: the first checks every doc, the second lets the
    # worker and JVM caches settle so the timed passes start warm
    sc.setJobGroup("warmup", "warmup")
    t = clock()
    failed = check_docs(_per_doc(extract_documents(raw)).collect(), corpus)
    failed += check_aggregate(_aggregate(extract_documents(raw)).collect()[0], corpus)
    warmup_s = clock() - t
    attempted = 2 * n

    pass_s, probe_s = [], []
    deadline = clock() + ctx.seconds
    while not pass_s or clock() < deadline:
        group = f"pass{len(pass_s)}"
        sc.setJobGroup(group, group)
        t = clock()
        out = extract_documents(raw)
        t_probe = clock()
        row = _aggregate(out).collect()[0]
        pass_s.append(clock() - t)
        probe_s.append(t_probe - t)
        attempted += n
        failed += check_aggregate(row, corpus)
    stop_session(spark)

    result = {
        "e2e": {
            "setup_s": session_s + median(data_s) + warmup_s,
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
        log = EventLog.single_in(event_dir)
        layers = spark_layers(log.median_summary([f"pass{i}" for i in range(len(pass_s))]))
        layers["session.start_s"] = session_s
        layers["extraction.probe_s"] = median(probe_s)
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
        result["spans"] = log.spans()
    return result
