"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import benchmath  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        xs = list(range(1, 101))
        v, pct, n = benchmath.tail(xs)
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_needs_eleven_samples(self):
        self.assertIsNone(benchmath.tail(list(range(10))))
        self.assertEqual(benchmath.tail(list(range(11))), (0, 100.0 / 11, 11))

    def test_ties_keep_ten_strictly_beyond(self):
        # twelve 5s sit on top: any value >= 5 has fewer than 10 beyond
        xs = [1, 2, 3] + [5] * 12
        v, pct, _ = benchmath.tail(xs)
        self.assertEqual(v, 3)
        self.assertEqual(sum(1 for x in xs if x > v), 12)
        self.assertAlmostEqual(pct, 100.0 * 3 / 15)

    def test_order_does_not_matter(self):
        xs = [7, 1, 9, 3, 5, 2, 8, 4, 6, 10, 11, 12, 13]
        self.assertEqual(benchmath.tail(xs), benchmath.tail(sorted(xs)))


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, s, e):
        return {"id": i, "parent": parent, "start_ns": s, "end_ns": e}

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40), self.span(3, 1, 30, 60)]
        st = benchmath.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 30)

    def test_children_clipped_to_parent(self):
        spans = [self.span(1, 0, 50, 100), self.span(2, 1, 40, 60), self.span(3, 1, 90, 120)]
        self.assertEqual(benchmath.self_times(spans)[1], 50 - 10 - 10)

    def test_grandchildren_charge_their_parent_only(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 50), self.span(3, 2, 0, 50)]
        st = benchmath.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (50, 0, 50))

    def test_disjoint_and_nested_intervals(self):
        self.assertEqual(benchmath.union_length([(0, 10), (20, 30), (5, 8), (25, 40)]), 30)
        self.assertEqual(benchmath.union_length([(5, 5), (7, 3)]), 0)


class GmeanOfMediansTest(unittest.TestCase):
    def test_one_kind_gives_its_median(self):
        self.assertAlmostEqual(benchmath.gmean_of_medians([("a", 3.0), ("a", 1.0), ("a", 2.0)]), 2.0)

    def test_every_kind_weighs_the_same(self):
        # four cheap samples do not outvote one expensive kind
        pairs = [("cheap", 0.5)] * 4 + [("dear", 2.0)]
        self.assertAlmostEqual(benchmath.gmean_of_medians(pairs), 1.0)

    def test_median_within_a_kind_drops_an_outlier(self):
        pairs = [("a", 1.0), ("a", 1.0), ("a", 50.0), ("b", 4.0)]
        self.assertAlmostEqual(benchmath.gmean_of_medians(pairs), 2.0)


class RatioTest(unittest.TestCase):
    def test_zero_base_is_unavailable(self):
        self.assertIsNone(benchmath.ratio(3, 0))
        self.assertEqual(benchmath.ratio(3, 4), 0.75)


def raw_run(ops, traced, spans, setup_facts=None, sizes=None, retimed=None):
    return {"ops": ops, "retimed_ops": ops[:len(traced)] if retimed is None else retimed,
            "traced_ops": traced, "spans": spans,
            "setup_facts": setup_facts or {}, "sizes": sizes or {},
            "jvm": {"gc_s": 0.5, "heap_peak_mb": 100.0}}


def op(kind, seconds, work, **facts):
    return {"kind": kind, "seconds": seconds, "work": work, "ok": True, "facts": facts}


def span(i, name, parent, op_id, s, e, **stats):
    return {"id": i, "name": name, "parent": parent, "op": op_id, "start_ns": s,
            "end_ns": e, "stats": stats or None}


class LayerBaseTest(unittest.TestCase):
    """Every ratio's base, on a two-operation traced run."""

    def setUp(self):
        traced = [op("box_stats", 1.0, 1000, chunks_hit=2, kernel_px_dates=1000),
                  op("masked_mean", 1.0, 500, chunks_hit=4, kernel_px_dates=500)]
        retimed = [dict(o, seconds=0.8) for o in traced]
        loop = [dict(o, seconds=5.0) for o in traced]  # colder: not the baseline
        spans = [span(1, "op", 0, 1, 0, 10**9, input_b=7 * 10**6, scan_rows={"landing": 9}),
                 span(2, "GridKernels", 1, 1, 0, 6 * 10**8, cpu_ns=3 * 10**8, input_b=10**6,
                      scan_rows={"ndvi": 5, "header.json": 1}),
                 span(3, "op", 0, 2, 10**9, 2 * 10**9),
                 span(4, "GridKernels", 3, 2, 10**9, 18 * 10**8, cpu_ns=2 * 10**8,
                      input_b=2 * 10**6, scan_rows={"ndvi": 3, "qa": 3})]
        self.m = layers.compute(raw_run(loop, traced, spans, sizes={"chunk": "10x10x2"},
                                        retimed=retimed))

    def test_prune_useful_is_chunks_hit_over_band_chunks_read(self):
        self.assertEqual(self.m["FractionStore.read.chunks_read"][0], 11)
        self.assertEqual(self.m["FractionStore.read.prune_useful"][0], 6 / 11)

    def test_input_counts_only_spans_that_read_a_band_store(self):
        self.assertEqual(self.m["FractionStore.read.input_mb"][0], 3.0)

    def test_decode_useful_counts_both_bands_of_a_masked_mean(self):
        self.assertEqual(self.m["FractionStore.read.decode_useful"][0],
                         (1000 + 2 * 500) / (11 * 200))

    def test_kernel_throughput_is_px_over_executor_cpu(self):
        self.assertEqual(self.m["GridKernels.px_per_cpu_s"][0], 1500 / 0.5)

    def test_busy_is_self_time(self):
        self.assertAlmostEqual(self.m["GridKernels.busy_s"][0], 1.4)

    def test_trace_overhead_against_the_untraced_repeat(self):
        self.assertAlmostEqual(self.m["trace.overhead_frac"][0], 2.0 / 1.6 - 1)

    def test_layers_without_work_have_no_base(self):
        self.assertIsNone(self.m["GridPipeline.useful_ratio"][0])
        self.assertIsNone(self.m["IncrementalAppend.rewrite_ratio"][0])
        self.assertIsNone(self.m["TensorShards.pack_fill"][0])
        self.assertEqual(layers.per_layer(raw_run([], [], []))["GridZonal.useful_ratio"][0], 0)

    def test_refresh_ratios(self):
        # the append wrote 700 px-dates for 100 new ones: 600 old ones re-chunked
        traced = [op("refresh_cycle", 5.0, 1, chunks_computed=32, chunks_changed=16,
                     append_new_px_dates=100, append_written_px_dates=700, append_files=2)]
        m = layers.compute(raw_run(traced, traced, [],
                                   setup_facts={"ingest_files": 4, "ingest_bytes": 2e6}))
        self.assertEqual(m["GridPipeline.useful_ratio"][0], 0.5)
        self.assertEqual(m["IncrementalAppend.rewrite_ratio"][0], 6.0)
        self.assertEqual(m["IncrementalAppend.files"][0], 2)
        self.assertEqual(m["FractionStore.write.files"][0], 4)
        self.assertEqual(m["FractionStore.write.mb_written"][0], 2.0)

    def test_append_of_only_new_dates_rewrites_nothing(self):
        traced = [op("refresh_cycle", 5.0, 1, append_new_px_dates=100, append_written_px_dates=100)]
        m = layers.compute(raw_run(traced, traced, []))
        self.assertEqual(m["IncrementalAppend.rewrite_ratio"][0], 0.0)

    def test_corpus_ratios(self):
        traced = [op("curate_batch", 5.0, 100, pages=100, kept=80, tokens=3000, bins=10,
                     capacity=512)]
        m = layers.compute(raw_run(traced, traced, []))
        self.assertEqual(m["CrawlCurate.kept_ratio"][0], 0.8)
        self.assertEqual(m["TensorShards.pack_fill"][0], 3000 / (10 * 512))

    def test_zonal_useful_is_hits_over_plan_tests(self):
        traced = [op("zonal_regions", 1.0, 10)]
        spans = [span(1, "op", 0, 1, 0, 10), span(2, "GridZonal", 1, 1, 0, 9, pip_tests=400, pip_hits=30),
                 span(3, "GridZonal", 1, 1, 0, 9, pip_tests=100, pip_hits=20)]
        m = layers.compute(raw_run(traced, traced, spans))
        self.assertEqual(m["GridZonal.pip_tests"][0], 500)
        self.assertEqual(m["GridZonal.useful_ratio"][0], 50 / 500)

    def test_reproject_taps_are_plan_explode_rows(self):
        traced = [op("reproject_window", 1.0, 10)]
        spans = [span(1, "op", 0, 1, 0, 10), span(2, "Reproject", 1, 1, 0, 9, generate_rows=320),
                 span(3, "GridZonal", 1, 1, 0, 9, generate_rows=99)]
        m = layers.compute(raw_run(traced, traced, spans))
        self.assertEqual(m["Reproject.taps"][0], 320)


class EndToEndTest(unittest.TestCase):
    """Bases of the gated and named end-to-end figures."""

    @staticmethod
    def raw(workload, ops, **extra):
        r = {"workload": workload, "ops": ops, "setup_s": 3.0}
        r.update(extra)
        return r

    def test_query_figures(self):
        ops = [op("box_stats", 2.0, 4e6), op("point_series", 0.5, 8), op("latlng_box", 1.5, 1e6),
               op("box_stats", 4.0, 4e6)]
        ops[1]["ok"] = False
        gated, named, tail = run.end_to_end(self.raw("tile_query", ops))
        self.assertEqual(gated["setup_s"][0], 3.0)
        self.assertAlmostEqual(gated["op_p50_gmean_s"][0], (3.0 * 0.5 * 1.5) ** (1 / 3))
        self.assertEqual(named["query_p50_s"][0], 1.75)
        self.assertEqual(gated["work_per_s"][0], (8e6 + 8 + 1e6) / 8.0 / 1e6)
        self.assertEqual(named["ops_failed_frac"][0], 1 / 4)
        self.assertIsNone(tail)
        self.assertIsNone(named["query_tail_s"][0])

    def test_refresh_figures(self):
        ops = [op("refresh_cycle", 4.0, 2e6), op("refresh_cycle", 6.0, 2e6)]
        raw = self.raw("tile_refresh", ops,
                       setup_facts={"ingest_px_dates": 4e6, "ingest_s": 4},
                       finish={"store_bytes": 1000, "stored_px_dates": 500})
        gated, named, _ = run.end_to_end(raw)
        self.assertAlmostEqual(gated["op_p50_gmean_s"][0], 5.0)
        self.assertEqual(gated["work_per_s"][0], 4e6 / 10.0 / 1e6)
        self.assertEqual(named["ingest_mpx_per_s"][0], 1.0)
        self.assertEqual(named["store_bytes_per_px"][0], 2.0)


if __name__ == "__main__":
    unittest.main()
