"""Round-artifact plumbing: bench round inference + parity provenance.

Round-11 verdict #6: the driver's post-close bench run was named
BENCH_LOCAL_r12.json because the round was inferred as
``max(CORRECTNESS_r*)+1`` — any run after the round's correctness
artifact lands got the NEXT round's name. The fix pins inference to the
newest committed ``PARITY_r*.json`` (written exactly once per round at
close, monotonic); these tests cover the inference on synthetic repos
and on the real one.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import infer_round  # noqa: E402
from parity import _infer_round as parity_next_round  # noqa: E402
from parity import source_digest, sources_dirty  # noqa: E402


def _touch(d, name):
    with open(os.path.join(d, name), "w") as f:
        f.write("{}")


def test_bench_infer_round_prefers_parity(tmp_path):
    d = str(tmp_path)
    _touch(d, "CORRECTNESS_r11.json")  # old inference would say 12
    _touch(d, "PARITY_r11.json")
    _touch(d, "PARITY_r9.json")
    assert infer_round(d) == 11


def test_bench_infer_round_corr_fallback(tmp_path):
    d = str(tmp_path)
    _touch(d, "CORRECTNESS_r03.json")
    assert infer_round(d) == 4
    assert infer_round(str(tmp_path / "missing")) == 0


def test_bench_infer_round_real_repo():
    """The r11-verdict done-criterion: an unset-env run on today's tree
    must label itself with the NEWEST committed parity round, never
    newest+1 (the driver's post-close run is a measurement OF that
    round)."""
    import glob
    import re

    parity_rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "PARITY_r*.json"))
        if (m := re.search(r"PARITY_r(\d+)\.json$", p))
    ]
    assert parity_rounds, "repo should carry committed parity artifacts"
    assert infer_round(REPO) == max(parity_rounds)


def test_parity_own_round_is_current(tmp_path, monkeypatch):
    """parity.py labels its artifact with the CURRENT round (newest
    CORRECTNESS + 1 — the driver writes CORRECTNESS at round start), so
    a re-close within one round overwrites its own artifact instead of
    minting a phantom next round. Contrast with bench's newest-PARITY
    rule (a bench run always measures the newest CLOSED round)."""
    import parity as parity_mod

    d = str(tmp_path)
    _touch(d, "CORRECTNESS_r11.json")
    _touch(d, "PARITY_r12.json")  # mid-round-12 re-close scenario
    monkeypatch.setattr(parity_mod, "REPO", d)
    assert parity_next_round() == 12


def test_source_digest_tracks_engine_source(tmp_path):
    """Digest covers pagerank_spark/**/*.py + __spark_entry__.py and
    changes when any covered file's CONTENT changes."""
    pkg = tmp_path / "pagerank_spark" / "operators"
    pkg.mkdir(parents=True)
    (tmp_path / "pagerank_spark" / "__init__.py").write_text("# a\n")
    (pkg / "x.py").write_text("def f(): return 1\n")
    (tmp_path / "__spark_entry__.py").write_text("# entry\n")
    d1 = source_digest(str(tmp_path))
    assert d1 == source_digest(str(tmp_path))  # deterministic
    (pkg / "x.py").write_text("def f(): return 2\n")
    d2 = source_digest(str(tmp_path))
    assert d1 != d2
    # a NON-engine file (tests, probes, artifacts) does not perturb it
    (tmp_path / "probe.py").write_text("pass\n")
    assert source_digest(str(tmp_path)) == d2


def test_sources_dirty_tracks_uncommitted_engine_edits(tmp_path):
    """``dirty`` is True exactly when a file the digest covers differs
    from HEAD; other files do not count."""
    import subprocess

    def git(*args):
        subprocess.run(
            ["git", "-C", str(tmp_path), "-c", "user.name=t",
             "-c", "user.email=t@t", *args],
            check=True, capture_output=True,
        )

    pkg = tmp_path / "pagerank_spark"
    pkg.mkdir()
    (pkg / "x.py").write_text("def f(): return 1\n")
    (tmp_path / "__spark_entry__.py").write_text("# entry\n")
    git("init", "-q")
    git("add", "-A")
    git("commit", "-q", "-m", "seed")
    assert sources_dirty(str(tmp_path)) is False
    (tmp_path / "probe.py").write_text("pass\n")
    assert sources_dirty(str(tmp_path)) is False
    (pkg / "x.py").write_text("def f(): return 2\n")
    assert sources_dirty(str(tmp_path)) is True
    git("commit", "-q", "-am", "edit")
    (pkg / "y.py").write_text("# new\n")
    assert sources_dirty(str(tmp_path)) is True


def test_newest_parity_artifact_records_provenance():
    """Every parity artifact from round 12 on must carry the freshness
    fields the gate consumes."""
    import glob
    import re

    paths = glob.glob(os.path.join(REPO, "PARITY_r*.json"))
    newest_round = max(
        int(re.search(r"_r(\d+)\.json$", p).group(1)) for p in paths
    )
    if newest_round < 12:
        import pytest

        pytest.skip("pre-r12 artifacts predate provenance fields")
    newest = [
        p for p in paths
        if int(re.search(r"_r(\d+)\.json$", p).group(1)) == newest_round
    ][0]
    summary = json.load(open(newest))["summary"]
    assert summary.get("source_digest")
    # whether that digest's files differed from HEAD at parity time; a
    # commit id recorded at run time would name the parent commit
    assert isinstance(summary.get("dirty"), bool)
    assert "engine_commit" not in summary
