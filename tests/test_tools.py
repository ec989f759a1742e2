"""Invariants of the repo tools that feed graded artifacts (no Spark
session needed; the heavyweight tools are exercised by their own
committed outputs)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))


def test_make_sf1_perturbation_preserves_dup_classes():
    """Identical texts must transform identically within a copy
    (intra-copy duplicate classes preserved), copy 0 must pass
    through unchanged, and different copies must diverge."""
    from make_sf1 import _perturb_texts

    t = "the quick brown fox jumps over the lazy dog " * 4
    same0 = _perturb_texts([t, t], 0)
    assert same0 == [t, t]
    c1 = _perturb_texts([t, t, None], 1)
    assert c1[0] == c1[1] != t
    assert c1[2] is None
    c2 = _perturb_texts([t], 2)
    assert c2[0] != c1[0]
    # replacement is positional: token count is invariant
    assert len(c1[0].split(" ")) == len(t.split(" "))


def test_make_sf1_perturbation_pushes_jaccard_below_threshold():
    """The documented property the probe depends on: cross-copy
    trigram-set Jaccard must land well under the 0.65 near-dup
    threshold, else pair ops would measure artificial twin
    inflation at sf1."""
    from de_realtime_voting_spark.constants import NGRAM_JACCARD_THRESHOLD
    from make_sf1 import _perturb_texts

    t = ("alpha bravo charlie delta echo foxtrot golf hotel india "
         "juliet kilo lima mike november oscar papa quebec romeo ") * 3

    def trigrams(s):
        return {s[i:i + 3] for i in range(len(s) - 2)}

    for copy in (1, 5, 9):
        p = _perturb_texts([t], copy)[0]
        a, b = trigrams(t), trigrams(p)
        j = len(a & b) / len(a | b)
        assert j < NGRAM_JACCARD_THRESHOLD, (copy, j)


def test_explain_audit_dedupes_cached_subtrees():
    """A repeated InMemoryRelation subtree (same modulo exprIds) is
    counted once -- exercising the REAL dedup function, not a
    replica."""
    from explain_audit import audit, dedup_cached_subtrees

    plan = """AdaptiveSparkPlan
+- HashAggregate
   +- Exchange hashpartitioning(a#10, 32)
      +- InMemoryTableScan [a#10]
         +- InMemoryRelation [a#10, b#11], StorageLevel(disk)
            +- Exchange hashpartitioning(x#1, 32)
               +- FileScan parquet [x#1,y#2]
   +- InMemoryTableScan [a#99]
      +- InMemoryRelation [a#99, b#100], StorageLevel(disk)
         +- Exchange hashpartitioning(x#1, 32)
            +- FileScan parquet [x#1,y#2]
"""
    a = audit(dedup_cached_subtrees(plan))
    assert a["scans"] == 1
    assert a["exchanges"] == 2  # one outer + one inside the cached plan


def test_explain_audit_keeps_distinct_caches_with_same_header():
    """Two DIFFERENT caches whose headers normalize identically must
    BOTH keep their subtrees (disambiguated by the first body line) --
    dropping the second would under-count genuinely-executing scans."""
    from explain_audit import audit, dedup_cached_subtrees

    plan = """Join
+- InMemoryTableScan [a#10]
   +- InMemoryRelation [a#10, b#11], StorageLevel(disk)
      +- Exchange hashpartitioning(x#1, 32)
         +- FileScan parquet [x#1,y#2]
+- InMemoryTableScan [a#50]
   +- InMemoryRelation [a#50, b#51], StorageLevel(disk)
      +- Project [q#7]
         +- FileScan parquet [q#7,r#8]
"""
    a = audit(dedup_cached_subtrees(plan))
    assert a["scans"] == 2
    assert a["exchanges"] == 1


def test_explain_audit_distinct_caches_sharing_first_child():
    """The collision class one level deeper: two distinct caches with
    identical header AND identical first body line (but different
    subtrees below) must BOTH keep their scans -- the key is the full
    normalized subtree."""
    from explain_audit import audit, dedup_cached_subtrees

    plan = """Join
+- InMemoryTableScan [a#10]
   +- InMemoryRelation [a#10, b#11], StorageLevel(disk)
      +- Exchange hashpartitioning(doc_id#1, 32)
         +- FileScan parquet [doc_id#1,y#2]
+- InMemoryTableScan [a#50]
   +- InMemoryRelation [a#50, b#51], StorageLevel(disk)
      +- Exchange hashpartitioning(doc_id#7, 32)
         +- Project [doc_id#7]
            +- FileScan parquet [doc_id#7,r#8]
"""
    a = audit(dedup_cached_subtrees(plan))
    assert a["scans"] == 2
    assert a["exchanges"] == 2


def test_merge_bench_sf1_sums_and_rejects_duplicates(tmp_path, monkeypatch):
    """The chunk merger must stitch disjoint chunk files into one
    artifact whose value is the exact sum, and refuse chunk sets that
    timed the same query twice (which would silently overwrite a
    timing)."""
    import json
    import subprocess

    import tools.merge_bench_sf1 as m

    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps({"queries": {"q1": 1.5, "q2": 2.25}}))
    b.write_text(json.dumps({"queries": {"q3": 3.0}}))

    monkeypatch.setattr(sys, "argv", ["merge", str(a), str(b)])
    monkeypatch.setattr(m, "_REPO", str(tmp_path))
    m.main()
    out = json.loads((tmp_path / "BENCH_SF1.json").read_text())
    assert out["value"] == 6.75
    assert out["sf"] == 1.0
    assert sorted(out["queries"]) == ["q1", "q2", "q3"]
    assert out["provenance"]["n_chunks"] == 2

    dup = tmp_path / "dup.json"
    dup.write_text(json.dumps({"queries": {"q2": 9.0}}))
    monkeypatch.setattr(sys, "argv", ["merge", str(a), str(dup)])
    try:
        m.main()
        raise AssertionError("duplicate chunk accepted")
    except SystemExit as e:
        assert "q2" in str(e)


def test_state_soak_md_keeps_hand_written_sections(tmp_path):
    """A soak run rewrites STATE_AUDIT.md from its template.  Sections
    the template does not generate (the hand-written r11 capacity
    formula) must be carried over, once, and the generated ones
    replaced: re-rendering the committed STATE_AUDIT.json over the
    committed file reproduces it byte for byte.  No soak runs."""
    from state_soak import _load_audit, _write_md

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "STATE_AUDIT.md")) as f:
        committed = f.read()
    audit = _load_audit(os.path.join(repo, "STATE_AUDIT.json"))
    rows, horizon = audit["pipelines"], audit["horizon_soak"]
    hand = "## Stream-stream join capacity formula (r11)"
    assert hand in committed

    out = tmp_path / "STATE_AUDIT.md"
    out.write_text(committed)
    for _ in range(2):  # idempotent: a second run adds nothing
        _write_md(rows, horizon, path=str(out))
        assert out.read_text() == committed

    # a first run (no previous file) writes the template alone
    fresh = tmp_path / "fresh.md"
    _write_md(rows, horizon, path=str(fresh))
    assert hand not in fresh.read_text()
    assert committed.startswith(fresh.read_text())

    # a run without the horizon soak drops that generated section
    # rather than carrying stale numbers, and keeps the hand one
    _write_md(rows, [], path=str(out))
    text = out.read_text()
    assert "## Horizon soak" not in text
    assert text.count(hand) == 1 and text.count("## Contracts measured") == 1
