"""One-shot verification battery: correctness gate + plan audit + pytest.

    python tools/verify_all.py [--quick]

--quick runs the gate at sf0.001 and skips pytest (fast pre-commit check);
the default is the full round-close battery, whose pytest stage is the
ROADMAP Tier-1 command. Exit code 0 only when every stage passes. Each
stage's full log lands in /tmp/verify_all_*.log.
"""

from __future__ import annotations

import os
import subprocess
import sys

PY = sys.executable


def run(name: str, cmd: list[str], env: dict | None = None) -> bool:
    log = f"/tmp/verify_all_{name}.log"
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, env=env).returncode
    tail = open(log).read().strip().splitlines()[-1:] or [""]
    print(f"  {name}: {'PASS' if rc == 0 else 'FAIL'} ({tail[0][:80]}) log={log}")
    return rc == 0


def main() -> int:
    quick = "--quick" in sys.argv
    ok = True
    sf = "/root/testdata/sf0.001" if quick else "/root/testdata/sf0.01"
    ok &= run("gate", [PY, "tools/check_correctness.py", sf])
    ok &= run("audit", [PY, "tools/explain_audit.py"])
    if not quick:
        # the ROADMAP Tier-1 command, so this stage and Tier-1 agree
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))), SPARK_LOCAL_DIRS="/tmp/spark-local")
        cmd = ["timeout", "-k", "10", "2670", PY, "-m", "pytest", "tests/", "-q", "--continue-on-collection-errors", "-p", "no:cacheprovider"]
        ok &= run("pytest", cmd, env)
    print("VERIFY", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
