"""The bench harness's one subprocess runner (``bench.run_child``).

Pure Python: the children are tiny ``python -c`` scripts, no Spark starts,
and ``time.sleep`` is patched out so the between-attempt back-off costs
nothing. A hung JVM, a crashed worker and a half-written result line must
each count as one failed attempt, and a run whose every attempt failed
must leave no ``--out`` behind — not even an older run's.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402


def _py(code: str) -> list[str]:
    return [sys.executable, "-c", code]


@pytest.fixture(autouse=True)
def _no_sleep(monkeypatch):
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)


def test_result_line_is_parsed(tmp_path):
    out = str(tmp_path / "rec.json")
    rec = bench.run_child(
        _py("import json; print('warming up'); print(json.dumps({'value': 1.5}))"),
        out=out,
    )
    assert rec == {"value": 1.5}
    with open(out) as fh:
        assert json.loads(fh.read()) == rec
    assert os.path.exists(out + ".a1") and not os.path.exists(out + ".a2")


def test_failed_attempt_is_retried(tmp_path):
    marker = tmp_path / "tried"
    # first attempt dies, the second succeeds
    code = (
        f"import os, sys; p = {str(marker)!r}\n"
        "if not os.path.exists(p):\n    open(p, 'w').close(); sys.exit(1)\n"
        "print('{\"ok\": true}')"
    )
    out = str(tmp_path / "rec.json")
    assert bench.run_child(_py(code), out=out) == {"ok": True}
    assert os.path.exists(out + ".a1") and os.path.exists(out + ".a2")


@pytest.mark.parametrize(
    "code, timeout",
    [
        ("import time; time.sleep(60)", 1),  # hung past the timeout
        ("print('{\"value\": 1.5, \"quer')", 30),  # truncated JSON
        ("import sys; print('boom', file=sys.stderr); sys.exit(1)", 30),  # no line
        ("import sys; print('{\"value\": 1}'); sys.exit(1)", 30),  # line, bad exit
    ],
    ids=["timeout", "truncated", "no_line", "nonzero_exit"],
)
def test_every_failed_attempt_leaves_no_out(tmp_path, code, timeout):
    out = str(tmp_path / "rec.json")
    with open(out, "w") as fh:  # an older run's record
        fh.write('{"value": 99}\n')
    assert bench.run_child(_py(code), out=out, timeout=timeout) is None
    assert not os.path.exists(out)
    assert sorted(os.listdir(tmp_path)) == ["rec.json.a1", "rec.json.a2", "rec.json.a3"]


def test_gated_exit_code_without_result(tmp_path, monkeypatch):
    """``bench.py gated`` exits non-zero and writes no --out when the
    driver bench never produces a result."""
    calls = []

    def fake_run_child(cmd, out=None, wait=0.0, timeout=bench.CHILD_TIMEOUT_S):
        calls.append((cmd[2:], out, wait))
        return None

    monkeypatch.setattr(bench, "run_child", fake_run_child)
    out = str(tmp_path / "rec.json")
    assert bench.main(["gated", "--out", out, "--wait", "0", "dedup_jaccard"]) == 1
    assert calls == [(["driver", "dedup_jaccard"], out, 0.0)]
    assert not os.path.exists(out)
