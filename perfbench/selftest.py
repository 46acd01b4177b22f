"""Self-tests of the benchmark harness: the comparator, the tail rule and
the PostgreSQL shard teardown.

    python3 perfbench/selftest.py

The shard tests need PostgreSQL (found through ``pg_config``) and start
tiny clusters under ``.bench_build/selftest`` in the current directory;
they are skipped when PostgreSQL is not installed.
"""

import json
import os
import shutil
import signal
import subprocess
import sys
import textwrap
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import pgshard  # noqa: E402


class ComparatorTest(unittest.TestCase):
    expected = [["A", 3, 1.5, "1995-01-01"], ["B", 4, 2.25, None]]

    def test_equal_rows_pass(self):
        actual = [["A", "3", "1.5", "1995-01-01"], ["B", "4", "2.2500000000001", None]]
        self.assertIsNone(checks.compare_rows(actual, self.expected))

    def test_wrong_value_is_flagged(self):
        actual = [["A", "3", "1.5", "1995-01-01"], ["B", "4", "2.26", None]]
        self.assertIn("row 1 column 2", checks.compare_rows(actual, self.expected))
        actual = [["A", "30", "1.5", "1995-01-01"], ["B", "4", "2.25", None]]
        self.assertIn("row 0 column 1", checks.compare_rows(actual, self.expected))

    def test_missing_row_is_flagged(self):
        actual = [["A", "3", "1.5", "1995-01-01"]]
        self.assertEqual(checks.compare_rows(actual, self.expected), "1 rows, expected 2")

    def test_null_against_value_is_flagged(self):
        actual = [["A", "3", "1.5", None], ["B", "4", "2.25", None]]
        self.assertIsNotNone(checks.compare_rows(actual, self.expected))

    def test_publish_check_needs_every_key_once(self):
        # expected: count, distinct keys, sum(k), sum(k*k), sum(price)
        expected = [4, 4, 10, 30, 10.0]
        good = [4, [["2", "2", "4", "10", "4.0"], ["2", "2", "6", "20", "6.0"]]]
        self.assertIsNone(checks.check_op({"kind": "publish", "result": good}, expected))
        # key 2 twice and key 3 missing: the count still matches
        dup = [4, [["2", "2", "3", "5", "4.0"], ["2", "2", "6", "20", "6.0"]]]
        self.assertIsNotNone(checks.check_op({"kind": "publish", "result": dup}, expected))


class TailTest(unittest.TestCase):
    def test_no_tail_below_ten_samples_beyond(self):
        self.assertIsNone(checks.tail(list(range(1, 100))))  # p90 has 9 beyond it

    def test_tail_with_ten_samples_beyond(self):
        p, v = checks.tail(list(range(1, 101)))
        self.assertEqual((p, v), (90, 90))
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)

    def test_highest_percentile_that_qualifies(self):
        p, v = checks.tail(list(range(1, 1001)))
        self.assertEqual((p, v), (99, 990))

    def test_ties_do_not_count_as_beyond(self):
        self.assertIsNone(checks.tail([1.0] * 95 + [2.0] * 5 + [1.0] * 100))


@unittest.skipUnless(pgshard.PG_BIN and os.path.exists(os.path.join(pgshard.PG_BIN, "postgres")),
                     "PostgreSQL is not installed")
class ShardTeardownTest(unittest.TestCase):
    """A run that fails partway leaves no postgres process and no data."""

    def setUp(self):
        self.root = os.path.join(os.getcwd(), ".bench_build", "selftest")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self.load = os.path.join(self.root, "load.csv")
        with open(self.load, "w") as f:
            f.write("k,v\n1,a\n2,b\n")
        os.chmod(self.root, 0o755)
        os.chmod(self.load, 0o644)

    def tearDown(self):
        shutil.rmtree(self.root, ignore_errors=True)

    def pg_dir(self):
        return os.path.join(self.root, "pg")

    def assert_gone(self, pids):
        for pid in pids:
            with self.assertRaises(ProcessLookupError, msg=f"postgres {pid} still runs"):
                os.kill(pid, 0)
        left = os.listdir(self.pg_dir()) if os.path.isdir(self.pg_dir()) else []
        self.assertEqual(left, [], "shard data directories left behind")

    def test_exception_inside_the_run(self):
        pids = []
        with self.assertRaises(RuntimeError):
            with pgshard.Shards(self.pg_dir(), [self.load, self.load], "k int, v text") as s:
                pids = [p.pid for p in s.procs]
                self.assertEqual(len(pids), 2)
                raise RuntimeError("the workload failed")
        self.assert_gone(pids)

    def test_failure_while_loading(self):
        missing = os.path.join(self.root, "missing.csv")
        shards = pgshard.Shards(self.pg_dir(), [self.load, missing], "k int, v text")
        with self.assertRaises(subprocess.CalledProcessError):
            with shards:
                pass
        self.assertEqual(len(shards.ports), 2)  # both servers had started
        self.assert_gone([])
        for port in shards.ports:
            r = subprocess.run([f"{pgshard.PG_BIN}/pg_isready", "-q", "-h", "127.0.0.1",
                                "-p", str(port)])
            self.assertNotEqual(r.returncode, 0, f"a server still answers on {port}")

    def test_sigterm_during_the_run(self):
        script = textwrap.dedent(f"""
            import json, signal, sys, time
            sys.path.insert(0, {HERE!r})
            import pgshard, run
            signal.signal(signal.SIGTERM, run.on_sigterm)
            with pgshard.Shards({self.pg_dir()!r}, [{self.load!r}], "k int, v text") as s:
                print(json.dumps([p.pid for p in s.procs]), flush=True)
                time.sleep(120)
        """)
        child = subprocess.Popen([sys.executable, "-c", script], stdout=subprocess.PIPE, text=True)
        try:
            pids = json.loads(child.stdout.readline())
            child.send_signal(signal.SIGTERM)
            self.assertEqual(child.wait(timeout=60), 128 + signal.SIGTERM)
        finally:
            if child.poll() is None:
                child.kill()
                child.wait()
            child.stdout.close()
        self.assert_gone(pids)

    def test_stale_run_is_reaped(self):
        """Shards of a run that was killed outright are stopped by the next run."""
        script = textwrap.dedent(f"""
            import json, os, sys, time
            sys.path.insert(0, {HERE!r})
            import pgshard
            s = pgshard.Shards({self.pg_dir()!r}, [{self.load!r}], "k int, v text")
            s.start()
            print(json.dumps([p.pid for p in s.procs]), flush=True)
            time.sleep(120)
        """)
        child = subprocess.Popen([sys.executable, "-c", script], stdout=subprocess.PIPE, text=True)
        try:
            pids = json.loads(child.stdout.readline())
        finally:
            child.kill()
            child.wait()
            child.stdout.close()
        time.sleep(0.2)
        pgshard.reap_stale(self.pg_dir())
        self.assert_gone(pids)


if __name__ == "__main__":
    unittest.main(verbosity=2)
