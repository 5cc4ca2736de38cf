"""Gate for tools/local_cluster_smoke.py (VERDICT r12 task 6).

The smoke needs its own SparkContext (master=local-cluster[2,4,4096]),
which cannot coexist with the suite's session fixture in one process —
so it runs as a subprocess and this test asserts its exit status. What
it proves: two real executor JVMs launch, both carry every
``gc_java_opts()`` flag (the r11 executor-OOM fix lands where Arrow
allocation pressure actually happens — inert in local[N]), a near-dup
+ a shuffle-heavy TPC-H query + the Arrow mapInPandas header pipeline
return byte-identical canonical rows across local-cluster and local
modes, and a checkpointed stateful streaming dedup survives a query
RESTART, and a watermark-evicting dedup evicts, with their state held
inside the real executor JVMs on the default provider, matching the
local runs.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_local_cluster_smoke_passes():
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "local_cluster_smoke.py")],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(REPO),
    )
    tail = "\n".join(proc.stdout.splitlines()[-15:])
    assert proc.returncode == 0, (
        f"local-cluster smoke failed (rc={proc.returncode}):\n{tail}\n"
        f"stderr tail:\n{chr(10).join(proc.stderr.splitlines()[-10:])}"
    )
    assert "PASS" in proc.stdout
    assert "executor JVM opts landed" in proc.stdout
    assert "stateful dedup+restart: local-cluster == local  OK" in proc.stdout
