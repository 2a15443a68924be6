"""Regenerate tests/plan_fingerprints.json — the full-registry
physical-plan-shape snapshot (round-8 verdict ask 2).

Run after an INTENTIONAL plan change; the diff of the JSON is the
review artifact:

    python scripts_dev/refresh_fingerprints.py [sf_dir]

Uses the same session profile as the pytest fixture so the snapshot and
the test see identical planning (broadcast thresholds etc.).
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_fingerprints(spark, sf_dir: str) -> dict:
    import __spark_entry__ as e
    from pdcm_etl_spark.plans.audit import plan_fingerprint

    out = {}
    for name, fn in e.queries().items():
        try:
            out[name] = plan_fingerprint(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — record, don't abort sweep
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
    return out


def main() -> None:
    from pdcm_etl_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    check = "--check" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    spark = get_spark("pdcm-etl-spark-tests")
    fps = build_fingerprints(spark, sf_dir)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests",
        "plan_fingerprints.json",
    )
    if check:
        # compare against the committed snapshot instead of rewriting it
        # (the pytest wrapper runs this in a FRESH subprocess session —
        # the snapshot is defined as fresh-session plans, and an in-suite
        # session carries memoized build state that legitimately changes
        # a build-once query's serve plan)
        with open(path) as fh:
            snapshot = json.load(fh)
        drifted = {
            n: {"want": snapshot.get(n), "got": f}
            for n, f in fps.items()
            if snapshot.get(n) != f
        }
        stale = sorted(set(snapshot) - set(fps))
        if drifted or stale:
            print(json.dumps(
                {"drifted": drifted, "stale": stale},
                indent=1, sort_keys=True))
            sys.exit(1)
        print(f"OK: {len(fps)} fingerprints match the snapshot")
        return
    with open(path, "w") as fh:
        json.dump(dict(sorted(fps.items())), fh, indent=1, sort_keys=True)
        fh.write("\n")
    errs = [n for n, f in fps.items() if "error" in f]
    print(f"wrote {len(fps)} fingerprints to {path}; errors: {errs}")


if __name__ == "__main__":
    main()
