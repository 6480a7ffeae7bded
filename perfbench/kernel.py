"""Single-core, in-process measurements of the PDF kernel.

``kernel_run`` times ``extract_spans_flat_from_mem`` doc by doc, first
plain and then with spans around each layer's public entry points:

* ``pdfmini.load``    ``load_mem`` as ``extract`` calls it
* ``pdfmini.filters`` ``decode_stream`` where ``pdfmini/document.py`` imports it
* ``pdfmini.content`` ``decode_content`` where ``interpreter.py`` imports it
* ``fonts.make_font`` ``make_font`` where ``interpreter.py`` imports it
* ``interpreter``     ``Processor.process_stream``
* ``device``          the ``PlainTextSpanDevice`` output calls and ``finish_flat``

A span's self time is its duration minus its child spans; ``extract``
is the per-doc root, so the self times add up to the traced wall time.

``cold_import`` times, in a fresh interpreter that sees the package only
through a ``--py-files``-style zip, the imports the extraction UDF
triggers and the first doc, with ``-X importtime`` per module.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import zipfile
from collections import defaultdict

from harness import ROOT, median

LAYERS = (
    "extract",
    "pdfmini.load",
    "pdfmini.filters",
    "pdfmini.content",
    "fonts.make_font",
    "interpreter",
    "device",
)


class _CountingCache(dict):
    """Stand-in for the process-wide font cache that counts lookups."""

    hits = 0
    misses = 0

    def get(self, key, default=None):
        v = super().get(key, default)
        if v is None:
            self.misses += 1
        else:
            self.hits += 1
        return v


class _Tracer:
    def __init__(self):
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.count: dict[str, int] = defaultdict(int)
        self._stack: list[float] = []
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, layer: str, on_result=None):
        fn = getattr(owner, attr)
        stack, self_s, calls = self._stack, self.self_s, self.calls
        clock = time.perf_counter

        def traced(*args, **kwargs):
            stack.append(0.0)
            t0 = clock()
            try:
                result = fn(*args, **kwargs)
            finally:
                dt = clock() - t0
                child = stack.pop()
                self_s[layer] += dt - child
                calls[layer] += 1
                if stack:
                    stack[-1] += dt
            if on_result is not None:
                on_result(args, result)
            return result

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def install(self):
        import pdf_extract_spark.extract as extract
        import pdf_extract_spark.fonts as fonts
        import pdf_extract_spark.interpreter as interpreter
        import pdf_extract_spark.pdfmini.document as document
        from pdf_extract_spark.device import PlainTextSpanDevice

        def bytes_out(_args, out):
            self.count["filters_bytes"] += len(out) if out else 0

        def ops_out(_args, out):
            self.count["content_ops"] += len(out)

        def page(args, _out):
            if len(args) < 6 or args[5] == 0:  # depth 0: a page, not a form XObject
                self.count["pages"] += 1

        def spans(_args, out):
            self.count["spans"] += len(out[0])

        self.wrap(extract, "extract_spans_flat_from_mem", "extract")
        self.wrap(extract, "load_mem", "pdfmini.load")
        self.wrap(document, "decode_stream", "pdfmini.filters", bytes_out)
        self.wrap(interpreter, "decode_content", "pdfmini.content", ops_out)
        self.wrap(interpreter, "make_font", "fonts.make_font")
        self.wrap(interpreter.Processor, "process_stream", "interpreter", page)
        for attr in (
            "begin_page", "end_page", "begin_word", "end_word", "end_line",
            "output_character", "output_string", "media",
        ):
            self.wrap(PlainTextSpanDevice, attr, "device")
        self.wrap(PlainTextSpanDevice, "finish_flat", "device", spans)
        self.cache = _CountingCache()
        self._undo.append((fonts, "_FONT_CACHE", fonts._FONT_CACHE))
        fonts._FONT_CACHE = self.cache

    def remove(self):
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()


def _size_class(doc) -> str:
    if doc.family.startswith("encrypted"):
        return "encrypted"
    return doc.size_class


def _check(doc, flat) -> bool:
    kinds, texts, _media, _offsets, _pages, error = flat
    text = "\n".join(t for k, t in zip(kinds, texts) if k != "media")
    return error is None and text == doc.expected_text and len(kinds) == doc.expected_spans


def kernel_run(docs) -> tuple[dict, int, dict]:
    """Plain then traced single-core pass over ``docs``.  Returns the
    per-layer metrics, the number of docs whose output was wrong, and
    each size class's share of the plain pass's kernel time."""
    import pdf_extract_spark.extract as extract
    import pdf_extract_spark.fonts as fonts

    fonts._FONT_CACHE.clear()
    per_class: dict[str, list[float]] = defaultdict(list)
    per_size: dict[str, float] = defaultdict(float)
    bad = 0
    clock = time.perf_counter
    t_start = clock()
    for d in docs:
        t0 = clock()
        flat = extract.extract_spans_flat_from_mem(d.content)
        dt = clock() - t0
        per_class[_size_class(d)].append(dt)
        per_size[d.size_class] += dt
        bad += not _check(d, flat)
    plain_s = clock() - t_start
    total = sum(per_size.values())
    shares = {k: per_size[k] / total for k in sorted(per_size)}

    fonts._FONT_CACHE.clear()
    tracer = _Tracer()
    tracer.install()
    try:
        t_start = clock()
        for d in docs:
            bad += not _check(d, extract.extract_spans_flat_from_mem(d.content))
        traced_s = clock() - t_start
    finally:
        tracer.remove()

    s, c, n = tracer.self_s, tracer.calls, tracer.count
    lookups = tracer.cache.hits + tracer.cache.misses
    metrics = {
        "kernel.docs_per_s_1core": len(docs) / plain_s,
        "kernel.ms_per_doc.small": 1e3 * median(per_class["small"]),
        "kernel.ms_per_doc.large": 1e3 * median(per_class["large"]),
        "kernel.ms_per_doc.encrypted": 1e3 * median(per_class["encrypted"]),
        "kernel.traced_wall_s": traced_s,
        "kernel.trace_overhead_s": traced_s - plain_s,
        "kernel.self_sum_ratio": sum(s[k] for k in LAYERS) / traced_s,
        "extract.self_s": s["extract"],
        "pdfmini.load_self_s": s["pdfmini.load"],
        "pdfmini.filters_s": s["pdfmini.filters"],
        "pdfmini.filters_calls": c["pdfmini.filters"],
        "pdfmini.decoded_bytes": n["filters_bytes"],
        "pdfmini.content_s": s["pdfmini.content"],
        "pdfmini.content_ops": n["content_ops"],
        "fonts.make_font_s": s["fonts.make_font"],
        "fonts.make_font_calls": c["fonts.make_font"],
        "fonts.cache_hit_ratio": tracer.cache.hits / lookups if lookups else 0.0,
        "interpreter.self_s": s["interpreter"],
        "interpreter.pages": n["pages"],
        "device.self_s": s["device"],
        "device.spans": n["spans"],
    }
    return metrics, bad, shares


# --------------------------------------------------------------------------
# Cold import in a fresh interpreter
# --------------------------------------------------------------------------

def build_pyfiles_zip(out_path: str) -> str:
    """The ``--py-files`` zip, built the way ``tools/package_pyfiles.py``
    builds it (package sources only, no bytecode), at ``out_path``."""
    pkg = os.path.join(ROOT, "pdf_extract_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, ROOT))
    return out_path


_PROBE = r"""
import json, sys, time, zipfile
zip_path, doc_path = sys.argv[1], sys.argv[2]
import pyspark.worker  # a Spark Python worker has this loaded before any UDF
t0 = time.perf_counter()
import pdf_extract_spark.operators.extraction
import pyarrow
import pdf_extract_spark.extract as extract
t1 = time.perf_counter()
with open(doc_path, "rb") as f:
    extract.extract_spans_flat_from_mem(f.read())
t2 = time.perf_counter()
with zipfile.ZipFile(zip_path) as z:
    sources = [(n, z.read(n)) for n in z.namelist() if n.endswith(".py")]
t3 = time.perf_counter()
for name, src in sources:
    compile(src, name, "exec")
t4 = time.perf_counter()
print(json.dumps({"import_s": t1 - t0, "first_doc_s": t2 - t1, "compile_s": t4 - t3}))
"""


def _importtime(stderr: str, module: str) -> float:
    """Cumulative -X importtime seconds of ``module`` (0 if not imported)."""
    for line in stderr.splitlines():
        if not line.startswith("import time:"):
            continue
        parts = line[len("import time:") :].split("|")
        if len(parts) == 3 and parts[2].strip() == module:
            return int(parts[1]) / 1e6
    return 0.0


def cold_import(work: str, first_doc: bytes) -> dict:
    zip_path = build_pyfiles_zip(os.path.join(work, "probe_pyfiles.zip"))
    doc_path = os.path.join(work, "probe_doc.pdf")
    with open(doc_path, "wb") as f:
        f.write(first_doc)
    env = dict(os.environ, PYTHONPATH=zip_path, PYTHONDONTWRITEBYTECODE="1")
    p = subprocess.run(
        [sys.executable, "-X", "importtime", "-c", _PROBE, zip_path, doc_path],
        cwd=work,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    got = json.loads(p.stdout.strip().splitlines()[-1])
    return {
        "udf.import_s": got["import_s"],
        "udf.first_doc_s": got["first_doc_s"],
        "udf.compile_s": got["compile_s"],
        "udf.import_fontdata_s": _importtime(p.stderr, "pdf_extract_spark.fontdata"),
        "udf.import_pandas_s": _importtime(p.stderr, "pandas"),
    }
