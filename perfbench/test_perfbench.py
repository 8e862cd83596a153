"""Tests of the benchmark's own arithmetic and seeding.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet  # noqa: E402,F401

import fixture  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402


class TailTest(unittest.TestCase):
    def test_p90_when_enough_samples_lie_beyond(self):
        xs = list(range(1, 201))          # 200 samples: p90 is 180, 20 beyond
        self.assertEqual(metrics.tail(xs), (180, 90.0, 20, 200))

    def test_exactly_ten_beyond_at_one_hundred(self):
        v, pct, beyond, n = metrics.tail(list(range(100)))
        self.assertEqual((v, pct, beyond, n), (89, 90.0, 10, 100))

    def test_lowers_the_rank_to_keep_ten_beyond(self):
        v, pct, beyond, n = metrics.tail(list(range(40)))
        self.assertEqual(beyond, 10)
        self.assertEqual(v, 29)
        self.assertAlmostEqual(pct, 75.0)

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 100.0, 0, 0))

    def test_order_of_input_does_not_matter(self):
        xs = [((i * 37) % 101) / 7 for i in range(101)]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class IdleAndSpanTest(unittest.TestCase):
    def test_core_idle_frac(self):
        self.assertAlmostEqual(metrics.core_idle_frac(4.0, 2.0, 4), 0.5)
        self.assertAlmostEqual(metrics.core_idle_frac(8.0, 2.0, 4), 0.0)
        self.assertAlmostEqual(metrics.core_idle_frac(0.0, 2.0, 4), 1.0)
        self.assertEqual(metrics.core_idle_frac(1.0, 0.0, 4), 0.0)

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)], lo=3, hi=12), 9)
        self.assertEqual(metrics.union_length([(0, 5)], lo=6, hi=9), 0)

    def span(self, i, parent, name, a, b):
        return {"id": i, "parent": parent, "name": name, "start_ns": a, "end_ns": b}

    def test_self_time_subtracts_covered_children(self):
        spans = [self.span(1, 0, "invocation", 0, 100),
                 self.span(2, 1, "construct", 0, 30),
                 self.span(3, 1, "action", 30, 90),
                 self.span(4, 3, "x", 40, 50), self.span(5, 3, "x", 45, 60)]
        st = metrics.self_times(spans)
        self.assertEqual(st, {1: 10, 2: 30, 3: 40, 4: 10, 5: 15})
        self.assertEqual(metrics.self_time_by_name(spans)["x"], 25e-9)

    def test_driver_gap_is_action_time_outside_jobs(self):
        act = self.span(1, 0, "action", 0, 100)
        jobs = [{"start_ns": 10, "end_ns": 40}, {"start_ns": 30, "end_ns": 60},
                {"start_ns": 90, "end_ns": 130}]
        self.assertEqual(metrics.driver_gap_ns(act, jobs), 100 - 50 - 10)

    def test_jobs_attribute_to_their_span_or_the_innermost_interval(self):
        spans = [self.span(1, 0, "invocation", 0, 100), self.span(2, 1, "action", 20, 80)]
        jobs = [{"job": 0, "span": 1, "start_ns": 50},
                {"job": 1, "span": -1, "start_ns": 50},
                {"job": 2, "span": -1, "start_ns": 10},
                {"job": 3, "span": -1, "start_ns": 500}]
        self.assertEqual(metrics.attribute(jobs, spans), {0: 1, 1: 2, 2: 1, 3: -1})

    def test_trace_overhead_pairs_each_invocation_with_its_untraced_run(self):
        invs = [{"ok": True, "invocation_s": 2.5, "count_s": 1.0, "untraced_s": 1.25},
                {"ok": True, "invocation_s": 1.0, "untraced_s": 1.5},
                {"ok": False, "invocation_s": 9.0, "untraced_s": 1.0},
                {"ok": True, "invocation_s": 9.0, "untraced_s": -1.0}]
        self.assertEqual(metrics.trace_overhead(invs), 0.25 - 0.5)


class SeedTest(unittest.TestCase):
    def test_sequence_is_a_function_of_the_seed(self):
        for wl in ("rel_x10", "corpus_sf01", "dataflow"):
            self.assertEqual(workloads.sequence(wl, 7, 20), workloads.sequence(wl, 7, 20))
            self.assertNotEqual(workloads.sequence(wl, 7, 20)[1], workloads.sequence(wl, 8, 20)[1])

    def test_a_draw_takes_one_cell_per_stratum_and_repeats_it_each_round(self):
        for wl in ("rel_x10", "corpus_sf01"):
            warm, seq = workloads.sequence(wl, 3, 20)
            groups = workloads.strata(workloads.SPEC[wl])
            self.assertEqual(sum(map(len, groups)), len(workloads.SPEC[wl].pool))
            self.assertEqual(len(warm), len(groups))
            self.assertTrue(all(sum(c in g for c in warm) == 1 for g in groups))
            r = workloads.rounds(wl, len(warm), 20)
            self.assertEqual(sorted(seq), sorted(warm * r))

    def test_consecutive_seeds_cover_every_cell(self):
        for wl in ("rel_x10", "corpus_sf01"):
            n = max(map(len, workloads.strata(workloads.SPEC[wl])))
            for first in (1, 5):
                seen = {c for s in range(first, first + n) for c in workloads.sequence(wl, s, 20)[0]}
                self.assertEqual(seen, set(workloads.SPEC[wl].pool))

    def test_the_costliest_cells_sit_in_strata_of_two(self):
        spec = workloads.SPEC["corpus_sf01"]
        groups = workloads.strata(spec)
        self.assertEqual([len(g) for g in groups[-spec.top // 2:]], [2] * (spec.top // 2))
        self.assertEqual(groups[-1], spec.pool[-2:])

    def test_a_dataflow_invocation_is_one_pair_of_the_two_shapes(self):
        _, seq = workloads.sequence("dataflow", 5, 20)
        self.assertTrue(all(sorted(c.split("+")) == ["narrow", "routed"] for c in seq))
        self.assertEqual(len(set(seq)), 2)

    def test_pools_are_disjoint_and_complete(self):
        self.assertEqual(len(workloads.REL_POOL), 77)
        self.assertEqual(len(workloads.CORPUS_POOL), 104)
        self.assertFalse(set(workloads.REL_POOL) & set(workloads.CORPUS_POOL))

    def test_dataflow_input_is_byte_identical_per_seed(self):
        a, b = workloads.dataflow_input(11), workloads.dataflow_input(11)
        self.assertEqual(hashlib.sha256(a).digest(), hashlib.sha256(b).digest())
        self.assertNotEqual(a, workloads.dataflow_input(12))
        self.assertEqual(len(a), 4 * workloads.DATAFLOW_RECORDS)

    def test_fixture_is_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            fixture.generate(os.path.join(d, "a"), 0.001, 42)
            fixture.generate(os.path.join(d, "b"), 0.001, 42)
            fixture.generate(os.path.join(d, "c"), 0.001, 43)
            fa, fb, fc = (fixture.fingerprint(os.path.join(d, x)) for x in "abc")
            self.assertEqual(fa, fb)
            self.assertNotEqual(fa, fc)

    def test_lineitem_key_is_unique(self):
        with tempfile.TemporaryDirectory() as d:
            fixture.generate(d, 0.001, 42)
            t = pa.parquet.read_table(os.path.join(d, "lineitem.parquet"))
            pairs = set(zip(t["l_orderkey"].to_pylist(), t["l_linenumber"].to_pylist()))
            self.assertEqual(len(pairs), t.num_rows)
            self.assertEqual(min(p[1] for p in pairs), 1)


class CompareTest(unittest.TestCase):
    @staticmethod
    def t(cols, types, rows):
        return cols, types, pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})

    def test_rules(self):
        exp = self.t(["b", "a"], ["BIGINT", "DOUBLE"], [(1, 0.1), (2, 0.2)])
        same = self.t(["a", "b"], ["DOUBLE", "INTEGER"], [(0.1, 1), (0.2, 2)])
        self.assertIsNone(oracle.compare(same, exp))
        off = self.t(["a", "b"], ["DOUBLE", "BIGINT"], [(0.1, 1), (0.2 + 1e-16, 2)])
        self.assertIn("row 1", oracle.compare(off, exp))
        wide = self.t(["a", "b"], ["DOUBLE", "HUGEINT"], [(0.1, 1), (0.2, 2)])
        self.assertIn("types", oracle.compare(wide, exp))
        self.assertIn("rowcount", oracle.compare(self.t(["a", "b"], ["DOUBLE", "BIGINT"], []), exp))
        self.assertIn("cols", oracle.compare(self.t(["a"], ["DOUBLE"], []), exp))

    def test_floats_are_bitwise_but_nan_payloads_do_not_count(self):
        exp = self.t(["x"], ["DOUBLE"], [(0.0,), (float("nan"),), (None,)])
        self.assertIsNone(oracle.compare(self.t(["x"], ["DOUBLE"], [(0.0,), (float("nan"),), (None,)]), exp))
        self.assertIn("row 0", oracle.compare(self.t(["x"], ["DOUBLE"], [(-0.0,), (float("nan"),), (None,)]), exp))
        self.assertIn("row 2", oracle.compare(self.t(["x"], ["DOUBLE"], [(0.0,), (float("nan"),), (0.0,)]), exp))

    def test_nested_values_compare_by_value(self):
        exp = self.t(["v"], ["DOUBLE[]"], [([1.0, 2.0],), ([3.0],)])
        self.assertIsNone(oracle.compare(self.t(["v"], ["DOUBLE[]"], [([1.0, 2.0],), ([3.0],)]), exp))
        self.assertIn("row 1", oracle.compare(self.t(["v"], ["DOUBLE[]"], [([1.0, 2.0],), ([4.0],)]), exp))


def cc_sql(rounds):
    """Connected components of a 40-node path by label propagation
    unrolled to `rounds` rounds, in the shape of the engine's oracles."""
    step = """l{r} AS MATERIALIZED (
  SELECT cur.id AS id,
    least(cur.lbl, coalesce(nbmin.m, cur.lbl), coalesce(j.lbl, cur.lbl)) AS lbl
  FROM l{p} cur
  LEFT JOIN (
    SELECT e.src AS id, min(n.lbl) AS m
    FROM edges e JOIN l{p} n ON n.id = e.dst GROUP BY e.src) nbmin
    ON nbmin.id = cur.id
  LEFT JOIN l{p} j ON j.id = cur.lbl)"""
    steps = ",\n".join(step.format(r=r, p=r - 1) for r in range(1, rounds + 1))
    return f"""WITH cand AS (SELECT i AS a, i + 1 AS b FROM range(1, 40) t(i)),
edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM cand UNION SELECT b, a FROM cand),
l0 AS MATERIALIZED (SELECT src AS id, least(src, min(dst)) AS lbl FROM edges GROUP BY src),
{steps},
chk AS (SELECT count(*) AS n FROM l{rounds} cur JOIN edges e ON e.src = cur.id
        JOIN l{rounds} n ON n.id = e.dst WHERE n.lbl < cur.lbl),
lab AS (SELECT id, lbl AS cluster_id FROM l{rounds} WHERE (SELECT n FROM chk) = 0)
SELECT cluster_id, count(*) AS n FROM lab GROUP BY cluster_id"""


class DeepenCcTest(unittest.TestCase):
    def run_sql(self, sql):
        con = duckdb.connect()
        try:
            return con.sql(sql).fetchall()
        finally:
            con.close()

    def test_extends_rounds_until_the_labels_converge(self):
        self.assertEqual(self.run_sql(cc_sql(2)), [])  # not converged: no labels
        deep = oracle.deepen_cc(cc_sql(2), 8)
        self.assertEqual(deep, cc_sql(8))
        self.assertEqual(self.run_sql(deep), [(1, 40)])

    def test_converged_answers_and_other_sql_are_unchanged(self):
        self.assertEqual(self.run_sql(oracle.deepen_cc(cc_sql(8), 24)), self.run_sql(cc_sql(8)))
        self.assertEqual(oracle.deepen_cc(cc_sql(8), 8), cc_sql(8))
        plain = "WITH t AS MATERIALIZED (SELECT 1 AS x) SELECT x FROM t"
        self.assertEqual(oracle.deepen_cc(plain), plain)


if __name__ == "__main__":
    unittest.main()
