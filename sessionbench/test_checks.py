"""Tests of the benchmark's own checks: a wrong answer and a skipped refresh
family must both be caught.

  python3 -m unittest discover -s sessionbench -p 'test_*.py'
"""
import copy
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402


def query(role, name, digest, pass_=0, builds=0, served=("shingles",), wall=0.5):
    return {"role": role, "pass": pass_, "name": name, "family": name[0], "start": 0.0,
            "wall_s": wall, "construct_s": 0.1, "plan_s": 0.1, "exec_s": 0.3,
            "driver_cpu_s": 0.05,
            "no_job_s": 0.2, "rows": 10, "digest": digest, "error": None,
            "builds": builds, "created": [], "served": list(served), "jobs": 3,
            "stages": 4, "tasks": 9, "cpu_s": 0.2, "run_s": 0.3,
            "shuffle_write_bytes": 10, "shuffle_read_bytes": 10, "spill_bytes": 0,
            "gc_s": 0.01}


def phase(name, wall=1.0, role=None, family=None, builds=0, start=0.0):
    p = {"name": name, "start": start, "end": start + wall, "wall_s": wall,
         "no_job_s": 0.1, "builds": builds, "jobs": 3, "stages": 4, "tasks": 9,
         "cpu_s": 0.5, "run_s": 0.6, "shuffle_write_bytes": 1, "shuffle_read_bytes": 1,
         "spill_bytes": 0, "gc_s": 0.01}
    if role:
        p.update(role=role, family=family, bytes=100, error=None, created=[])
    return p


COMMON = {"setup_end_epoch_s": 30.0, "peak_rss_mb": 900.0, "live_heap_mb": 200.0, "session_start_s": 5.0,
          "fingerprint_s": 0.01, "trace_self_s": 0.001}


def serve_record():
    qs = [query("reference", n, d) for n, d in (("q01_x", 11), ("d02_y", 22))]
    qs += [query("window", n, d, p) for p in (1, 2) for n, d in (("q01_x", 11), ("d02_y", 22))]
    return dict(COMMON, workload="serve", queries=qs,
                phases=[phase("build"), phase("build:shingles", role="build",
                                              family="shingles", builds=1),
                        phase("reference"), phase("pass1"), phase("pass2"), phase("window")])


def refresh_record():
    fams = ["shingles", "profile"]
    qs = [query("scratch", n, d) for n, d in (("q15_p", 5), ("d02_y", 6))]
    qs += [query("post_refresh", n, d) for n, d in (("q15_p", 5), ("d02_y", 6))]
    phases = [phase(f"build:{f}", role="build", family=f, builds=1) for f in fams]
    phases += [phase(n) for n in ("reference", "ingest", "calendar", "clean", "build",
                                  "post_refresh", "export", "window")]
    phases.append(phase("refresh", wall=2.0, start=100.0))
    return dict(COMMON, workload="build_refresh", queries=qs, phases=phases,
                refresh_returned=list(fams),
                refresh_done=[{"family": f, "table": f"{f}_t", "seen_epoch_s": 101.0 + i,
                               "bytes": 10} for i, f in enumerate(fams)],
                ingest_bytes=1000, clean_bytes=300, export_bytes=50,
                reports=["r"], reference_report="r")


class ChecksTest(unittest.TestCase):
    def test_clean_serve_run_passes(self):
        attempted, problems = checks.check(serve_record())
        # two reference and four timed queries, one family build
        self.assertEqual((attempted, problems), (7, []))
        m = checks.metrics(serve_record(), 0.0, 1000, 0, attempted)
        self.assertEqual(m["artifacts.hit_ratio"], 1.0)
        self.assertEqual(m["ops.q.jobs"], 3)
        self.assertAlmostEqual(m["driver_cpu_s"], 0.1)  # two queries per pass

    def test_wrong_digest_is_caught(self):
        rec = serve_record()
        rec["queries"][-1]["digest"] += 1
        attempted, problems = checks.check(rec)
        self.assertEqual(len(problems), 1)
        self.assertIn("d02_y", problems[0])
        m = checks.metrics(rec, 0.0, 1000, len(problems), attempted)
        self.assertEqual(m["fail_frac"], 1 / 7)

    def test_wrong_row_count_after_refresh_is_caught(self):
        rec = refresh_record()
        rec["queries"][-1]["rows"] += 1
        _, problems = checks.check(rec, None, [b"x"], b"x")
        self.assertEqual(len(problems), 1)
        self.assertIn("post_refresh d02_y", problems[0])

    def test_clean_refresh_run_passes(self):
        rec = refresh_record()
        attempted, problems = checks.check(rec, None, [b"x"], b"x")
        self.assertEqual(problems, [])
        m = checks.metrics(rec, 0.0, 1000, 0, attempted)
        self.assertEqual(m["artifacts.refresh_missing_families"], 0)
        self.assertEqual(m["artifacts.post_refresh_builds"], 0)
        self.assertAlmostEqual(m["artifacts.refresh_s.shingles"], 1.0)
        self.assertAlmostEqual(m["artifacts.refresh_s.profile"], 1.0)

    def test_skipped_refresh_family_is_caught(self):
        rec = refresh_record()
        rec["refresh_returned"] = ["shingles"]
        rec["refresh_done"] = rec["refresh_done"][:1]
        # the first read of the skipped family on the new state builds it
        rec["queries"][2]["builds"] = 1
        attempted, problems = checks.check(rec, None, [b"x"], b"x")
        m = checks.metrics(rec, 0.0, 1000, len(problems), attempted)
        self.assertEqual(m["artifacts.refresh_missing_families"], 1)
        self.assertEqual(m["artifacts.post_refresh_builds"], 1)
        self.assertLess(m["artifacts.hit_ratio"], 1.0)

    def test_failed_cold_build_is_a_problem_not_a_missing_family(self):
        rec = refresh_record()
        next(p for p in rec["phases"] if p["name"] == "build:profile")["error"] = "boom"
        rec["refresh_returned"] = ["shingles"]
        attempted, problems = checks.check(rec, None, [b"x"], b"x")
        self.assertEqual(problems, ["build:profile: boom"])
        m = checks.metrics(rec, 0.0, 1000, len(problems), attempted)
        self.assertEqual(m["artifacts.refresh_missing_families"], 0)

    def test_report_mismatch_is_caught(self):
        _, problems = checks.check(refresh_record(), None, [b"a"], b"b")
        self.assertEqual(problems, ["export 1: report differs from the file Pipeline.run wrote"])

    def test_failed_query_is_counted(self):
        rec = copy.deepcopy(serve_record())
        rec["queries"][3]["error"] = "AnalysisException: boom"
        attempted, problems = checks.check(rec)
        self.assertEqual(attempted, 7)
        self.assertEqual(len(problems), 1)

    def test_oracle_row_count_mismatch_is_caught(self):
        _, problems = checks.check(serve_record(), {"q01_x": 10, "d02_y": 9})
        # d02_y ran three times (reference and two passes): each is checked
        self.assertEqual(len(problems), 3)
        self.assertTrue(all("d02_y: 10 rows, oracle 9" in p for p in problems))


if __name__ == "__main__":
    unittest.main()
