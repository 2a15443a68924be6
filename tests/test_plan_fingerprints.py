"""Full-registry physical-plan-shape regression (round-7 verdict item 2).

~75 hand-written pins in test_plan_shapes.py cover the riskiest plans;
this snapshot covers EVERYTHING: each registry query's plan is reduced
to a volatile-free fingerprint (exchange counts, join-strategy multiset,
Python-boundary count, scan pushdown flags — plans/audit.py::
plan_fingerprint) and compared against the committed snapshot. A lost
broadcast, a new shuffle, or a Python UDF creeping into a scalar path
fails HERE with a one-line refresh path:

    python scripts_dev/refresh_fingerprints.py <sf_dir> --only <queries>

after which the JSON diff is the review artifact for the intentional
plan change.

The comparison runs in a FRESH SUBPROCESS session (the script's
--check mode): the snapshot is defined as fresh-session plans, and the
in-suite session carries state 700 earlier tests legitimately built
(per-session memos for the build-once ANN index and the incremental
flagship's base materialization, warmed catalogs) that flips those
queries from their build plan to their serve plan — an ordering flake,
not a regression. The subprocess pins the definition.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_plan_fingerprints_match_snapshot(sf_dir):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts_dev",
                                      "refresh_fingerprints.py"),
         sf_dir, "--check"],
        capture_output=True,
        text=True,
        timeout=1200,
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        "plan fingerprints drifted (refresh after an INTENTIONAL "
        "change: python scripts_dev/refresh_fingerprints.py <sf_dir> "
        "--only <queries>):\n"
        + proc.stdout[-8000:] + proc.stderr[-2000:]
    )
