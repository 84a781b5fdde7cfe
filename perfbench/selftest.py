"""Self-test of the benchmark's correctness gates.

    python3 perfbench/selftest.py

Runs both workloads at a tiny size in one Spark session.  Requires that
the sync gate passes on a first sync and a resync, and fails when the
planted answer is corrupted or a library row is dropped from the
program's input; and that the operator pass passes its check on every
query, and the check fails on a dropped or altered result row.  Exits 0 when
every case behaves, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys

import run

ROWS = 120
SEED = 7


def main() -> int:
    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, file=sys.stderr)
        if not ok:
            failures.append(what)

    try:
        cpus = run.pin_environment(work)
        import gen
        import ops
        import sync
        import tables

        spark = run.start_spark(work, cpus)
        try:
            cfg = sync.config()
            data = gen.generate(SEED, gen.LibraryShape(rows=ROWS), SEED + 1)
            base, delta = data["base"], data["delta"]
            for name, part in (("base", base), ("delta", delta)):
                gen.write_tables(part, os.path.join(work, name))
            truth = dict(base["truth_rows"])

            # first sync: cold cache
            wh = os.path.join(work, "wh-first")
            _, ctx, results, _ = sync.run_sync(spark, cfg, os.path.join(work, "base"), wh)
            problems, stats = sync.gate(ctx, results, truth)
            expect(not problems, f"first sync passes the gate {problems}")
            expect(stats["match_precision"] == 1.0, "first sync precision is 1")
            expect(
                stats["found_ratio"] == stats["planted_found_ratio"],
                "first sync found ratio equals the planted one",
            )

            # a corrupted planted-URI map must fail the gate
            found_id = next(i for i, u in truth.items() if u is not None)
            bad = {**truth, found_id: "spotify:track:not-planted"}
            expect(bool(sync.gate(ctx, results, bad)[0]), "corrupted planted uri fails the gate")
            missing_id = next(i for i, u in truth.items() if u is None)
            bad = {**truth, missing_id: "spotify:track:not-planted"}
            expect(bool(sync.gate(ctx, results, bad)[0]), "planting an absent match fails the gate")

            # resync: the first sync's cache, then the delta
            first_hashes = sync.log_hashes(ctx)
            cache = os.path.join(wh, sync.CACHE_DIR)
            old_keys = run.cache_keys(cache)
            _, ctx2, results2, _ = sync.run_sync(spark, cfg, os.path.join(work, "delta"), wh)
            problems, _ = sync.gate(ctx2, results2, dict(delta["truth_rows"]))
            expect(not problems, f"resync passes the gate {problems}")
            searched = run.cache_keys(cache) - old_keys
            ratio = 1 - len(searched) / run.cache_lookups(delta)
            expect(0.95 <= ratio < 1, f"resync cache hit ratio {ratio:.3f} in [0.95, 1)")
            now = sync.log_hashes(ctx2)
            unchanged = set(first_hashes) & {r[0] for r in delta["youtube_library"]}
            expect(
                bool(unchanged) and all(now[i] == first_hashes[i] for i in unchanged),
                "resync keeps the log rows of unchanged videos",
            )

            # a library row dropped from the program's input must fail it
            dropped = dict(base, youtube_library=base["youtube_library"][1:])
            gen.write_tables(dropped, os.path.join(work, "dropped"))
            _, ctx3, results3, _ = sync.run_sync(
                spark, cfg, os.path.join(work, "dropped"), os.path.join(work, "wh-dropped")
            )
            expect(bool(sync.gate(ctx3, results3, truth)[0]), "dropped library row fails the gate")

            # operator_mix: every query of the pass agrees with its oracle
            tdir = os.path.join(work, "tables")
            tables.write(tables.generate(SEED, lineitems=600), tdir)
            qs = ops.queries()
            expected = ops.oracle_results(qs, tdir)
            _, problems = ops.run_pass(spark, qs, tdir, expected)
            expect(not problems, f"operator pass passes its check {problems}")
            q = next(q for q in qs if q.name == "pricing_summary")
            got = q.spark(spark, tdir).toPandas()
            want = expected[q.name]
            expect(bool(ops.compare(got.iloc[1:], want)), "a dropped result row fails the check")
            col = next(c for c in got.columns if got[c].dtype.kind == "f")
            altered = got.copy()
            altered.loc[0, col] = altered.loc[0, col] * (1 + 1e-6) + 1e-6
            expect(bool(ops.compare(altered, want)), "an altered result value fails the check")
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest: " + ("FAILED " + "; ".join(failures) if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
