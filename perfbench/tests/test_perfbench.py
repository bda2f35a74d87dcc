"""Self-tests of the benchmark.

  python3 -m unittest discover -s perfbench/tests -t perfbench

The script and trace-check tests are instant; the harness tests build
the engine and run graph_read for one pass per seed (about two minutes
in all).
"""
import collections
import unittest

import run
import workloads
from tests import hooks


def fake_facts(pool):
    return {n: (100 * i, i) for i, n in enumerate(pool)}


def multiset(steps):
    return collections.Counter((s["op"], s["call"]) for s in steps)


class ScriptTest(unittest.TestCase):
    def test_seeds_give_same_op_multiset(self):
        for w in workloads.WORKLOADS:
            a = workloads.make_script(w, 1, 4, fake_facts)
            b = workloads.make_script(w, 2, 4, fake_facts)
            self.assertEqual(multiset(a[0]), multiset(b[0]), w)
            for pa, pb in zip(a[1], b[1]):
                self.assertEqual(multiset(pa), multiset(pb), w)

    def test_seed_changes_order_and_targets(self):
        a = workloads.make_script("graph_read", 1, 4, fake_facts)[1]
        b = workloads.make_script("graph_read", 2, 4, fake_facts)[1]
        self.assertNotEqual([s["op"] for p in a for s in p],
                            [s["op"] for p in b for s in p])
        wa = workloads.make_script("graph_write", 1, 2, fake_facts)[1]
        wb = workloads.make_script("graph_write", 2, 2, fake_facts)[1]
        self.assertNotEqual([s["params"] for s in wa[0]], [s["params"] for s in wb[0]])

    def test_write_model_tracks_its_writes(self):
        warm, passes, finals = workloads.make_script("graph_write", 3, 3, fake_facts)
        base = fake_facts(workloads.pick_pool(
            __import__("random").Random("graph_write:3"), 15000))
        live = {}
        for step in warm + [s for p in passes for s in p]:
            if step["op"] == "create_order":
                live[step["params"]["tag"]] = round(step["params"]["price"] * 100)
            elif step["op"] == "delete_order":
                del live[step["params"]["tag"]]
            elif step["op"] == "read_deleted":
                self.assertEqual(step["expect"], [["0"]])
        created = finals[-1][1]["expect"][0]
        self.assertEqual(created, [str(len(live)), str(sum(live.values()))])
        self.assertEqual(len(base), workloads.POOL_SIZE)

    def test_write_passes_time_every_bulk_ingest_op(self):
        _, passes, _ = workloads.make_script("graph_write", 1, 2, fake_facts)
        timed = {s["op"] for p in passes for s in p if s["call"] == "entry"}
        self.assertEqual(timed, set(workloads.BULK_OPS))


def span(id_, parent, start, end):
    return {"id": id_, "parent": parent, "start_ms": start, "end_ms": end}


class TraceCheckTest(unittest.TestCase):
    """The phase-attribution check on hand-made spans."""

    def spans(self, job_start, job_end):
        return [span("op1", None, 0, 100), span("op1/build", "op1", 0, 40),
                span("op1/exec", "op1", 40, 100),
                span("job1", "op1/build", job_start, job_end)]

    def test_jobs_inside_their_phase_pass(self):
        gap = run.span_self_times(self.spans(10, 30))
        self.assertAlmostEqual(gap, 0.0)
        self.assertEqual(run.trace_problems(gap, 0), [])

    def test_job_outside_its_phase_fails(self):
        # a build job that runs on into exec: 20 ms of 100 counted twice
        gap = run.span_self_times(self.spans(30, 60))
        self.assertAlmostEqual(gap, 0.2)
        self.assertTrue(run.trace_problems(gap, 0))

    def test_unattributed_job_fails(self):
        self.assertTrue(run.trace_problems(0.0, 1))


class HarnessTest(unittest.TestCase):
    """One graph_read pass per seed through the JVM."""

    @classmethod
    def setUpClass(cls):
        cls.records = {}
        for name, seed, hook in (("s1", 1, None), ("s2", 2, None),
                                 ("planted", 1, hooks.plant_failures)):
            argv = ["--workload", "graph_read", "--seed", str(seed), "--seconds", "0"]
            cls.records[name] = run.main(argv, script_hook=hook)

    def answers(self, name):
        res = self.records[name]
        return {r["op"]: r["fingerprint"] for r in res["warmup_ops"] + res["ops"]}

    def test_two_seeds_same_answers(self):
        a, b = self.records["s1"], self.records["s2"]
        self.assertEqual(collections.Counter(r["op"] for r in a["ops"]),
                         collections.Counter(r["op"] for r in b["ops"]))
        self.assertEqual(self.answers("s1"), self.answers("s2"))
        for res in (a, b):
            self.assertFalse(any(r["failed"] for r in res["warmup_ops"] + res["ops"]))

    def test_wrong_answer_counts_as_failure(self):
        res = self.records["planted"]
        rs = [r for r in res["warmup_ops"] + res["ops"] if r["op"] == hooks.WRONG_OP]
        self.assertTrue(rs)
        for r in rs:
            self.assertTrue(r["failed"])
            self.assertIs(r["expect_ok"], False)

    def test_throwing_op_counts_as_failure(self):
        res = self.records["planted"]
        rs = [r for r in res["warmup_ops"] + res["ops"] if r["op"] == hooks.THROW_OP]
        self.assertTrue(rs)
        for r in rs:
            self.assertTrue(r["failed"])
            self.assertTrue(r["error"])
        others = [r for r in res["ops"] if r["op"] not in (hooks.WRONG_OP, hooks.THROW_OP)]
        self.assertTrue(others)
        self.assertFalse(any(r["failed"] for r in others))

    def test_failure_never_timed_as_success(self):
        res = self.records["planted"]
        lat = run.end_to_end(res, res["ops"])
        ok = sorted(r["latency_s"] for r in res["ops"] if not r["failed"])
        # failed ops count as missing every latency limit: they sort last
        self.assertGreaterEqual(lat["latency_tail_s"], ok[-1] if ok else 0)
        # and they are not completions
        self.assertAlmostEqual(lat["ops_per_s"], len(ok) / res["window_s"])
        self.assertLess(lat["ops_per_s"], len(res["ops"]) / res["window_s"])


if __name__ == "__main__":
    unittest.main()
