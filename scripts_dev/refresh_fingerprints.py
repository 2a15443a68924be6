"""Regenerate tests/plan_fingerprints.json — the full-registry
physical-plan-shape snapshot (round-8 verdict ask 2).

Run after an INTENTIONAL plan change; the diff of the JSON is the
review artifact:

    python scripts_dev/refresh_fingerprints.py <sf_dir> [--only a,b] [--check]

``--only a,b`` fingerprints and rewrites just the named queries and
keeps every other entry as committed. ``--check`` compares instead of
writing: it prints one line per drifted query (its name and the
fingerprint keys that changed), then the full JSON diff, and exits 1.

Uses the same session profile as the pytest fixture so the snapshot and
the test see identical planning (broadcast thresholds etc.).
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_fingerprints(spark, sf_dir: str, only: list[str] | None = None) -> dict:
    import __spark_entry__ as e
    from pdcm_etl_spark.plans.audit import plan_fingerprint

    queries = e.queries()
    unknown = sorted(set(only or []) - set(queries))
    if unknown:
        raise SystemExit(f"--only: unknown queries {unknown}")
    out = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            out[name] = plan_fingerprint(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — record, don't abort sweep
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
    return out


def changed_keys(want: dict | None, got: dict) -> list[str]:
    want = want or {}
    return sorted(k for k in set(want) | set(got) if want.get(k) != got.get(k))


def main() -> None:
    import argparse

    from pdcm_etl_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", help="lake the queries read (the suite's sf0.001 lake)")
    ap.add_argument("--check", action="store_true",
                    help="compare with the snapshot instead of rewriting it")
    ap.add_argument("--only", default="",
                    help="comma-separated query names to fingerprint")
    args = ap.parse_args()
    only = [n for n in args.only.split(",") if n] or None
    spark = get_spark("pdcm-etl-spark-tests")
    fps = build_fingerprints(spark, args.sf_dir, only)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests",
        "plan_fingerprints.json",
    )
    with open(path) as fh:
        snapshot = json.load(fh)
    if args.check:
        # compare against the committed snapshot instead of rewriting it
        # (the pytest wrapper runs this in a FRESH subprocess session —
        # the snapshot is defined as fresh-session plans, and an in-suite
        # session carries memoized build state that legitimately changes
        # a build-once query's serve plan)
        drifted = {
            n: {"want": snapshot.get(n), "got": f}
            for n, f in fps.items()
            if snapshot.get(n) != f
        }
        stale = [] if only else sorted(set(snapshot) - set(fps))
        if drifted or stale:
            for n, d in sorted(drifted.items()):
                print(f"drifted {n}: {', '.join(changed_keys(d['want'], d['got']))}")
            for n in stale:
                print(f"stale {n}: no longer in the registry")
            print(json.dumps(
                {"drifted": drifted, "stale": stale},
                indent=1, sort_keys=True))
            sys.exit(1)
        print(f"OK: {len(fps)} fingerprints match the snapshot")
        return
    merged = {**snapshot, **fps} if only else fps
    with open(path, "w") as fh:
        json.dump(dict(sorted(merged.items())), fh, indent=1, sort_keys=True)
        fh.write("\n")
    errs = [n for n, f in fps.items() if "error" in f]
    print(f"wrote {len(fps)} fingerprints to {path}; errors: {errs}")


if __name__ == "__main__":
    main()
