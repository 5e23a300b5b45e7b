"""bench.py's canary ref resolution: the same-session A/B must run
against a round-close commit whose package code differs from HEAD's,
and say why when no such commit exists."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
import bench  # noqa: E402


def _git(repo: Path, *args: str) -> str:
    return subprocess.run(
        ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
        cwd=repo, capture_output=True, text=True, check=True,
    ).stdout.strip()


def _commit(repo: Path, subject: str, code: str | None = None) -> str:
    if code is not None:
        (repo / "mldag_spark" / "__init__.py").write_text(code)
    _git(repo, "add", "-A")
    _git(repo, "commit", "-q", "--allow-empty", "-m", subject)
    return _git(repo, "rev-parse", "--short", "HEAD")


def test_canary_ref_resolution(tmp_path):
    repo = tmp_path / "r"
    (repo / "mldag_spark").mkdir(parents=True)
    _git(repo, "init", "-q")
    _commit(repo, "seed", "v = 0\n")
    # no round-close commit yet: skipped, with the reason
    ref, why = bench.resolve_canary_ref(str(repo))
    assert ref is None and "no round-close commit" in why

    close = _commit(repo, "round 1: verdict/advice/correctness/bench")
    # an end-of-round snapshot, a PR titled after a round and a body
    # line are not round closes
    _commit(repo, "round 2: end-of-round snapshot", "v = 1\n")
    _commit(repo, "PR 3: round 2: verdict follow-up", "v = 2\n")
    _commit(repo, "fix\n\nround 2: verdict in a body line", "v = 3\n")
    assert bench.resolve_canary_ref(str(repo)) == (close, None)

    # a round close with HEAD's package tree would A/B HEAD with itself
    same = _commit(repo, "round 2: verdict/advice/correctness/bench")
    ref, why = bench.resolve_canary_ref(str(repo))
    assert ref is None and same in why and "same mldag_spark/ tree" in why

    # an explicit CANARY_REF is checked the same way
    (repo / "CANARY_REF").write_text(f"{close}\n# pinned\n")
    assert bench.resolve_canary_ref(str(repo)) == (close, None)
    (repo / "CANARY_REF").write_text("HEAD\n")
    ref, why = bench.resolve_canary_ref(str(repo))
    assert ref is None and "same mldag_spark/ tree" in why
    (repo / "CANARY_REF").write_text("nosuchref\n")
    ref, why = bench.resolve_canary_ref(str(repo))
    assert ref is None and "no mldag_spark/ tree" in why


def test_canary_ref_outside_a_git_checkout(tmp_path):
    ref, why = bench.resolve_canary_ref(str(tmp_path))
    assert ref is None and "not a git checkout" in why
