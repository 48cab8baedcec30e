#!/usr/bin/env python3
"""Self-tests for codegen_churn.py's log parsing and grouping (no JVM needed):

    python3 scripts/test_codegen_churn.py
"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import codegen_churn as cc  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def record(cls, body, ts="14:50:44.101"):
    return ["%s DEBUG CodeGenerator: " % ts,
            "/* 001 */ public Object generate(Object[] references) {",
            "/* 002 */   return new %s(references);" % cls,
            "/* 003 */ }",
            "/* 004 */ final class %s extends BaseProjection {" % cls,
            "/* 005 */   %s" % body,
            "/* 006 */ }"]


LOG = (record("SpecificUnsafeProjection", "a")
       + ["14:50:44.120 INFO CodeGenerator: Code generated in 12.5 ms"]
       + record("GeneratedIteratorForCodegenStage1", "b")
       + ["14:50:44.130 INFO CodeGenerator: Code generated in 30.0 ms",
          "14:50:44.131 WARN TaskSetManager: unrelated line"]
       + record("SpecificUnsafeProjection", "a")
       + ["14:50:44.140 INFO CodeGenerator: Code generated in 2.5 ms"]
       # same class name, different body: a different source
       + record("SpecificUnsafeProjection", "c")
       + ["14:50:44.150 INFO CodeGenerator: Code generated in 1.0 ms"]
       + record("SpecificUnsafeProjection", "a"))


class Parse(unittest.TestCase):
    def test_groups_by_identical_source(self):
        compiles, total = cc.parse(LOG)
        s = cc.summarize(compiles, total)
        self.assertEqual((s["compiles"], s["distinct"], s["recompiles"]), (5, 3, 2))
        self.assertEqual((s["repeated_sources"], s["compiles_of_repeated"]), (1, 3))
        self.assertEqual(s["ms"], 46.0)
        self.assertEqual(s["top"][0], {"class": "SpecificUnsafeProjection", "compiles": 3,
                                       "ms": 15.0})

    def test_times_pair_in_log_order_and_a_missing_time_is_none(self):
        compiles, _ = cc.parse(LOG)
        self.assertEqual([t for _, t in compiles], [12.5, 30.0, 2.5, 1.0, None])

    def test_sbt_prefixes_are_ignored(self):
        compiles, total = cc.parse(["[error] " + line for line in LOG])
        self.assertEqual(len(compiles), 5)
        self.assertEqual(total, 46.0)

    def test_debug_lines_without_source_are_not_compiles(self):
        compiles, total = cc.parse(["14:50 DEBUG CodeGenerator: cache hit", "other"])
        self.assertEqual(compiles, [])
        self.assertIsNone(total)


class Cli(unittest.TestCase):
    def run_cli(self, lines, *args):
        with tempfile.NamedTemporaryFile("w", suffix=".log", delete=False) as f:
            f.write("\n".join(lines) + "\n")
        try:
            return subprocess.run([sys.executable, os.path.join(HERE, "codegen_churn.py"),
                                   f.name] + list(args), capture_output=True, text=True)
        finally:
            os.unlink(f.name)

    def test_summary_line(self):
        out = self.run_cli(LOG)
        self.assertEqual(out.returncode, 0, out.stderr)
        self.assertTrue(out.stdout.startswith(
            "compiles 5  distinct 3  recompiles 2  repeated_sources 1 (compiled 3 times)  ms 46.0"),
            out.stdout)

    def test_a_log_with_no_compiles_fails(self):
        out = self.run_cli(["nothing here"])
        self.assertEqual(out.returncode, 1)


if __name__ == "__main__":
    unittest.main()
