"""Tests of the benchmark's own code.

    python3 perfbench/test_bench.py

Runs the JVM self-tests (graftbench.SelfTest: percentile choice, digest
order independence, open-loop lateness, failure accounting), checks the
steadiness arithmetic, and checks that the command fails without
printing a result when the program's sources are absent.
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402
import steady  # noqa: E402


class BenchTest(unittest.TestCase):

    def test_jvm_selftest(self):
        cp = build.build()
        scratch = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            cmd = [build.java(), "-Xmx1g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
                   "-Djava.io.tmpdir=" + scratch]
            for p in run.JDK_OPENS:
                cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
            env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_LOCAL_DIRS=scratch)
            p = subprocess.run(cmd + ["-cp", cp, "graftbench.SelfTest"], cwd=scratch,
                               env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True, timeout=300)
            print(p.stdout)
            self.assertEqual(p.returncode, 0, p.stdout)
            self.assertIn("all passed", p.stdout)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_spread_is_iqr_over_median(self):
        s = steady.spread([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual(s["median"], 3.0)
        self.assertAlmostEqual(s["spread"], (4.5 - 1.5) / 3.0)
        self.assertEqual(steady.seeds_of("1-3,7"), [1, 2, 3, 7])

    def test_fails_without_program_sources(self):
        bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            env = {k: v for k, v in os.environ.items() if k != "SPARK_HOME"}
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "pipeline_cold", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=bare, env=env,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
