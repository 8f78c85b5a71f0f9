"""Per-layer metrics of a traced run.

Layer spans are named after the engine modules the harness calls
(perfbench/scala/perfbench/*.scala). Busy time is span self time; Spark
counters come from listener events attributed to spans by a local
property; chunk counts, point-in-polygon tests and explode rows come
from the nodes of each action's executed plan; what an append wrote is
read from the files it left. A layer that did no work on a workload
reports 0 and a note saying so.
"""

from benchmath import ratio, self_times

SPAN_LAYERS = (
    "FractionStore.read", "LatLngPruning", "GridKernels", "GridZonal", "Reproject",
    "FractionStore.write", "IncrementalAppend", "GridPipeline", "GridFocal", "GridLabeling",
    "CrawlCurate", "Bpe.train", "Bpe.encode", "TensorShards.pack", "TensorShards.write",
    "TensorShards.read",
)
BAND_STORES = ("ndvi", "qa")

MB = 1e6


def _stat(spans, key):
    return sum((s["stats"] or {}).get(key, 0) for s in spans)


def _scan_rows(spans, stores):
    return sum(v for s in spans for k, v in ((s["stats"] or {}).get("scan_rows") or {}).items()
               if k in stores)


def _facts(ops, key, kinds=None):
    return sum(o["facts"].get(key, 0) for o in ops if kinds is None or o["kind"] in kinds)


def _chunk_px_dates(sizes):
    w, h, d = (int(v) for v in sizes.get("chunk", "0x0x0").split("x"))
    return w * h * d


def compute(raw):
    """{metric: (value or None, unit)}; None marks a ratio whose base is 0."""
    spans = raw["spans"]
    loop = [s for s in spans if s["op"] > 0]
    ops = raw["traced_ops"]
    selfs = self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def busy(name):
        return sum(selfs[s["id"]] for s in by_name.get(name, [])) / 1e9

    def of(name):
        return by_name.get(name, [])

    m = {}
    # the usefulness ratios need query windows; whole-store operations
    # (refresh cycles) have none
    windowed = [o for o in ops if "chunks_hit" in o["facts"]]
    chunks_read = _scan_rows(loop, BAND_STORES)
    window = sum(o["work"] * (2 if o["kind"] == "masked_mean" else 1) for o in windowed)
    m["FractionStore.read.busy_s"] = (busy("FractionStore.read"), "s")
    m["FractionStore.read.chunks_read"] = (chunks_read, "count")
    m["FractionStore.read.prune_useful"] = (
        ratio(_facts(windowed, "chunks_hit"), chunks_read if windowed else 0), "ratio")
    m["FractionStore.read.decode_useful"] = (
        ratio(window, chunks_read * _chunk_px_dates(raw["sizes"]) if windowed else 0), "ratio")
    band_reads = [s for s in loop if any(k in BAND_STORES for k in (s["stats"] or {}).get("scan_rows") or {})]
    m["FractionStore.read.input_mb"] = (_stat(band_reads, "input_b") / MB, "MB")

    ll_read = _scan_rows(of("LatLngPruning"), BAND_STORES)
    m["LatLngPruning.busy_s"] = (busy("LatLngPruning"), "s")
    m["LatLngPruning.chunks_read"] = (ll_read, "count")
    m["LatLngPruning.prune_useful"] = (
        ratio(_facts(ops, "chunks_hit", ("latlng_box",)), ll_read), "ratio")

    m["GridKernels.busy_s"] = (busy("GridKernels"), "s")
    m["GridKernels.px_per_cpu_s"] = (
        ratio(_facts(ops, "kernel_px_dates"), _stat(of("GridKernels"), "cpu_ns") / 1e9), "px/s")

    tests = _stat(of("GridZonal"), "pip_tests")
    m["GridZonal.busy_s"] = (busy("GridZonal"), "s")
    m["GridZonal.pip_tests"] = (tests, "count")
    m["GridZonal.useful_ratio"] = (ratio(_stat(of("GridZonal"), "pip_hits"), tests), "ratio")

    m["Reproject.busy_s"] = (busy("Reproject"), "s")
    m["Reproject.taps"] = (_stat(of("Reproject"), "generate_rows"), "count")

    ingest = raw["setup_facts"]
    m["FractionStore.write.busy_s"] = (busy("FractionStore.write"), "s")
    m["FractionStore.write.files"] = (ingest.get("ingest_files", 0), "count")
    m["FractionStore.write.mb_written"] = (ingest.get("ingest_bytes", 0) / MB, "MB")

    m["IncrementalAppend.busy_s"] = (busy("IncrementalAppend"), "s")
    new = _facts(ops, "append_new_px_dates")
    m["IncrementalAppend.rewrite_ratio"] = (
        ratio(_facts(ops, "append_written_px_dates") - new, new), "ratio")
    m["IncrementalAppend.files"] = (_facts(ops, "append_files"), "count")

    computed = _facts(ops, "chunks_computed")
    m["GridPipeline.busy_s"] = (busy("GridPipeline"), "s")
    m["GridPipeline.chunks_computed"] = (computed, "count")
    m["GridPipeline.useful_ratio"] = (ratio(_facts(ops, "chunks_changed"), computed), "ratio")

    m["GridFocal.busy_s"] = (busy("GridFocal"), "s")
    m["GridLabeling.busy_s"] = (busy("GridLabeling"), "s")

    m["CrawlCurate.busy_s"] = (busy("CrawlCurate"), "s")
    m["CrawlCurate.kept_ratio"] = (ratio(_facts(ops, "kept"), _facts(ops, "pages")), "ratio")
    m["Bpe.train.busy_s"] = (busy("Bpe.train"), "s")
    m["Bpe.encode.busy_s"] = (busy("Bpe.encode"), "s")
    m["TensorShards.pack.busy_s"] = (busy("TensorShards.pack"), "s")
    m["TensorShards.pack_fill"] = (
        ratio(_facts(ops, "tokens"), _facts(ops, "bins") * max(
            [o["facts"].get("capacity", 0) for o in ops] + [0])), "ratio")
    m["TensorShards.write.busy_s"] = (busy("TensorShards.write"), "s")
    m["TensorShards.read.busy_s"] = (busy("TensorShards.read"), "s")

    m["spark.jobs"] = (_stat(loop, "jobs"), "count")
    m["spark.tasks"] = (_stat(loop, "tasks"), "count")
    m["spark.exec_cpu_s"] = (_stat(loop, "cpu_ns") / 1e9, "s")
    m["spark.task_wait_s"] = (_stat(loop, "wait_ms") / 1e3, "s")
    m["spark.shuffle_write_mb"] = (_stat(loop, "shuffle_write_b") / MB, "MB")
    m["spark.spill_mb"] = (_stat(loop, "spill_b") / MB, "MB")
    m["spark.task_skew"] = (max([(s["stats"] or {}).get("max_skew", 0) for s in loop] + [0]),
                            "ratio")
    m["spark.exchanges"] = (_stat(loop, "exchanges"), "count")
    m["spark.codegen_fallbacks"] = (_stat(loop, "codegen_fallbacks"), "count")
    for name in SPAN_LAYERS:
        m[f"{name}.spark.exec_cpu_s"] = (_stat(of(name), "cpu_ns") / 1e9, "s")
        m[f"{name}.spark.shuffle_write_mb"] = (_stat(of(name), "shuffle_write_b") / MB, "MB")

    m["jvm.gc_s"] = (raw["jvm"]["gc_s"], "s")
    m["jvm.heap_peak_mb"] = (raw["jvm"]["heap_peak_mb"], "MB")
    untraced = sum(o["seconds"] for o in raw["retimed_ops"])
    traced = sum(o["seconds"] for o in ops)
    over = ratio(traced, untraced)
    m["trace.overhead_frac"] = (None if over is None else over - 1, "ratio")
    return m


def per_layer(raw):
    """Every per-layer metric as a number: a ratio with no base reads 0."""
    return {k: (0 if v is None else v, u) for k, (v, u) in compute(raw).items()}


def notes(raw):
    """Why per-layer numbers read 0: the workload never calls the layer,
    or a ratio's base is zero."""
    present = {s["name"] for s in raw["spans"]}
    out = {name: "0: this workload does not call the layer"
           for name in SPAN_LAYERS if name not in present}
    for k, (v, _) in compute(raw).items():
        if v is None and not any(k.startswith(n + ".") for n in out):
            out[k] = "0: ratio base is zero on this workload"
    return out
