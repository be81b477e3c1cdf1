"""Tests of the reachability scan's call finder.

  python3 -m unittest tools/test_reachability.py    (from the repository root)

`calls()` must find names in code and in string literals, and none in
comments: a name in a scaladoc or a `//` note is not a call. A local `def`
between two stage registrations belongs to the stages that call it, not to
the stage registered above it. The committed REACHABILITY.md is the
script's output, and its family table lists no family that only its own
gates and specs reach (such a family is deleted, not kept).
"""
import contextlib
import io
import os
import sys
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import reachability  # noqa: E402

OBJECTS = {"Similarity": {"nearest"}, "Dedup": {"exact", "simhash", "fingerprint"},
           "Sampling": {"sample"}}

BODY = '''
  /** Near-dup pairs; the same trade [[Similarity.nearest]] makes.
    * /* a nested Dedup.simhash */ still inside the doc comment
    */
  def pairs(df: DataFrame): DataFrame = {
    // Dedup.fingerprint(df) was the old form
    val glob = spark.read.parquet("data/*.parquet") /* Sampling.sample */
    val q = """SELECT 1 /* a triple-quoted literal opens no comment"""
    Dedup.exact(glob, "id", "text")
  }
'''


class CallsTest(unittest.TestCase):
    def setUp(self):
        patch = mock.patch.multiple(reachability, OBJECTS=OBJECTS, CLASSES=set())
        patch.start()
        self.addCleanup(patch.stop)

    def test_only_the_real_call_is_found(self):
        self.assertEqual(reachability.calls(BODY), {"Dedup.exact"})

    def test_a_string_holding_a_comment_opener_hides_no_call(self):
        self.assertEqual(reachability.calls('x("/*"); Dedup.exact(d) // */'), {"Dedup.exact"})

    def test_names_in_string_literals_are_kept(self):
        self.assertEqual(reachability.calls('sql("Dedup.simhash")'), {"Dedup.simhash"})

    def test_strip_keeps_literals(self):
        text = 'a // x\n"/* y */" /* z\n */ b'
        self.assertEqual(reachability.strip_comments(text), 'a  \n"/* y */"   b')


REGISTRY = '''
    PipelineConfig.register("first") { (name, cfg) =>
      Pipeline.DataStage(name, m => Dedup.exact(m.data))
    }

    // drops every non-representative
    def dropOthers(data: DataFrame): DataFrame = {
      val inner = 1
      Dedup.simhash(data)
    }

    PipelineConfig.register("second") { (name, cfg) =>
      Pipeline.DataStage(name, m => dropOthers(m.data))
    }
'''


class RegistrationsTest(unittest.TestCase):
    def setUp(self):
        patch = mock.patch.multiple(reachability, OBJECTS=OBJECTS, CLASSES=set())
        patch.start()
        self.addCleanup(patch.stop)

    def test_a_local_def_belongs_to_its_callers(self):
        bodies = reachability.registrations(REGISTRY)
        self.assertEqual(set(bodies), {"first", "second"})
        self.assertEqual(reachability.calls(bodies["first"]), {"Dedup.exact"})
        self.assertEqual(reachability.calls(bodies["second"]), {"Dedup.simhash"})


class TreeTest(unittest.TestCase):
    def test_minhash_lsh_dedup_reaches_resolve_clusters(self):
        _, body = reachability.stage_bodies()["minhash_lsh_dedup"]
        self.assertIn("Dedup.resolveClusters", reachability.closure(reachability.calls(body)))


class CommittedTableTest(unittest.TestCase):
    def test_reachability_md_is_the_script_output(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            reachability.main()
        committed = (reachability.ROOT / "REACHABILITY.md").read_text()
        self.assertEqual(committed, out.getvalue(),
                         "REACHABILITY.md is stale: python3 tools/reachability.py > REACHABILITY.md")


def family_rows(md):
    """(family, reached by) for each row of the `## Gate families` table."""
    section = md.split("## Gate families", 1)[1]
    rows = [line.split("|")[1:-1] for line in section.splitlines() if line.startswith("| ")]
    return [(cells[0].strip(), cells[2].strip()) for cells in rows[1:]]


class FamilyTableTest(unittest.TestCase):
    def test_no_family_is_reached_only_by_its_own_gates_and_specs(self):
        md = (reachability.ROOT / "REACHABILITY.md").read_text()
        alone = [f for f, by in family_rows(md) if by == "own gates and specs only"]
        self.assertEqual(alone, [], "families reached only by their own gates and specs: "
                         + ", ".join(alone))


if __name__ == "__main__":
    unittest.main()
