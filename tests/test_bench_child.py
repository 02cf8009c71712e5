"""The scaling-bench child runs on the host it finds: one fresh process,
one small corpus, one JSON line."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_bench_child_reports_one_json_line():
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "bench_scaling_child.py"), "local[2]", "300"],
        capture_output=True,
        text=True,
        cwd=str(ROOT),
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert len(lines) == 1, proc.stdout
    r = json.loads(lines[0])
    assert r["master"] == "local[2]" and r["pages"] == 300
    assert r["triples"] > 0 and r["dt_sec"] > 0
