"""Full-catalog 10× scale-ratio gate (BENCH_SCALE.json round diff).

Measures every registered query at sf0.1 AND at the 10× upsample
(``localdata_sf1/``, regenerable — see SCALING.md), computes the
per-query sf0.1→sf1 wall ratio, and diffs it against the map recorded
in ``BENCH_SCALE.json::full_catalog_sf1.per_query``. A query whose 10×
ratio worsened by more than ``--factor`` (default 1.5×) vs the prior
recorded map is flagged — so a scale regression surfaces as a file
diff + nonzero exit instead of judge archaeology.

Usage:
    python tools/scale_gate.py [--passes 3] [--factor 1.5]
        [--min-sf1-s 0.5] [--update] [--isolate N] [query ...]

  --update    rewrite full_catalog_sf1 in BENCH_SCALE.json with the
              new map (flags, if any, are recorded under "regressions"
              so the git history shows what worsened and when; with
              query args the regression list is merged, not replaced).
  --isolate N restart the Spark JVM every N queries (fresh subprocess
              per chunk; 25 recommended for full-map runs). Bounds the
              mid-run session-aging inflation so the recorded map is
              generated under the same conditions as the isolated
              confirmation protocol — full-run flags no longer need a
              manual re-measure pass.
  query ...   restrict to named queries (spot re-measure; --update
              then patches only those entries).

Noise discipline (memory: never trust one reading): min-of-N with the
same noop-sink protocol as bench.py; queries whose sf1 time is under
``--min-sf1-s`` are never flagged — a 0.2 s→0.35 s wobble is host
noise, not a scale break.

Flag-confirmation protocol: a sequential session accumulates JVM/GC
state that reproducibly inflates some mid-run readings 2-6×
(d_bloom_dedup: 2 s isolated vs 12 s mid-run in a full 200×2-SF
session). ``--isolate 25`` (the full-map default since r7) BOUNDS the
class but does not eliminate it — the r7 full map still produced 19
late-chunk false flags, all of which cleared on a chunk-4 re-measure.
So: treat full-run flags as ADVISORY, confirm with
``scale_gate <names> --passes 3 --isolate 4 --update`` (merge
semantics drop cleared flags and keep the rest), and check the sf1
column before believing any flag — an sf0.1 IMPROVEMENT also raises
the ratio (denominator flag) with sf1 flat.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from baronbatch_etl_spark.queries import load_all  # noqa: E402
from baronbatch_etl_spark.session import get_spark  # noqa: E402

SF01_DIR = "/root/testdata/sf0.1"
SF1_DIR = str(ROOT / "localdata_sf1")
SCALE_FILE = ROOT / "BENCH_SCALE.json"


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def measure(names: list[str], passes: int) -> dict[str, dict[str, float]]:
    registry = load_all()
    spark = get_spark("scale-gate")
    # warm-up: JVM/codegen + one Arrow worker bring-up, as in bench.py
    _force(registry["p1_projection"].fn(spark, SF01_DIR))
    _force(registry["f_norm_concat"].fn(spark, SF01_DIR))
    out: dict[str, dict[str, float]] = {}
    for name in names:
        row: dict[str, float] = {}
        for key, sf_dir in (("sf0.1", SF01_DIR), ("sf1", SF1_DIR)):
            best = float("inf")
            for _ in range(passes):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                _force(registry[name].fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            row[key] = round(best, 3)
        # guard the denominator: a sub-ms sf0.1 reading rounds to 0.0
        # (r6 advice) — clamp to 1 ms instead of dividing by zero
        row["ratio"] = round(row["sf1"] / max(row["sf0.1"], 0.001), 2)
        out[name] = row
        print(
            f"{name}: sf0.1={row['sf0.1']}s sf1={row['sf1']}s "
            f"ratio={row['ratio']}",
            file=sys.stderr,
            flush=True,
        )
    return out


def diff(
    new: dict[str, dict[str, float]],
    prior: dict[str, dict[str, float]],
    factor: float,
    min_sf1_s: float,
) -> list[str]:
    flags = []
    for name, row in sorted(new.items()):
        old = prior.get(name)
        if old is None or row["sf1"] < min_sf1_s:
            continue
        # mirror the guard on the PRIOR reading (r6 advice): an old
        # sf1 below the noise floor carries a meaningless tiny ratio,
        # and a query legitimately growing past the floor would flag
        # against noise, not a recorded baseline
        if old["sf1"] < min_sf1_s:
            continue
        # a worsened RATIO with a flat-or-improved sf1 reading is a
        # denominator artifact (sf0.1 got faster) — definitionally not
        # a scale regression; require the sf1 column itself to move
        if row["sf1"] <= old["sf1"]:
            continue
        if row["ratio"] > old["ratio"] * factor:
            flags.append(
                f"{name}: 10x ratio {old['ratio']} -> {row['ratio']} "
                f"(sf1 {old['sf1']}s -> {row['sf1']}s)"
            )
    return flags


def readings(
    new: dict[str, dict[str, float]], prior: dict[str, dict[str, float]]
) -> list[str]:
    """One line per measured query: its sf0.1 and sf1 readings, their
    ratio, and the sf1 recorded in ``BENCH_SCALE.json`` (``-`` when
    the query has no record), so a spot check needs no ``--update``."""
    lines = []
    for name, row in sorted(new.items()):
        old = prior.get(name, {}).get("sf1", "-")
        lines.append(
            f"{name}: sf0.1={row['sf0.1']}s sf1={row['sf1']}s "
            f"ratio={row['ratio']} prior_sf1={old}"
        )
    return lines


def measure_isolated(
    names: list[str], passes: int, chunk: int
) -> dict[str, dict[str, float]]:
    """Measure in fresh-JVM chunks of ``chunk`` queries.

    A full 200×2-SF sequential session accumulates JVM state that
    reproducibly inflates a few mid-run readings 2-6× (root cause
    unknown; GC/checkpoint-block theories falsified — see module
    docstring). Running each chunk in its own subprocess generates the
    map under the same conditions as the isolated confirmation
    protocol, so full-run flags stop needing manual re-measure.
    """
    import subprocess
    import tempfile

    out: dict[str, dict[str, float]] = {}
    failed: list[str] = []
    for i in range(0, len(names), chunk):
        batch = names[i : i + chunk]
        with tempfile.NamedTemporaryFile(suffix=".json") as tmp:
            cmd = [
                sys.executable,
                __file__,
                *batch,
                "--passes",
                str(passes),
                "--emit-json",
                tmp.name,
            ]
            # one crashed chunk must not abort a 40-60 min full-map
            # run and discard every completed chunk's measurements —
            # log it, keep going, report the hole at the end
            try:
                subprocess.run(cmd, check=True)
                out.update(json.loads(Path(tmp.name).read_text()))
            except (subprocess.CalledProcessError, ValueError, OSError) as e:
                failed.extend(batch)
                print(
                    f"-- isolate: chunk FAILED ({e}); skipping "
                    f"{', '.join(batch)}",
                    file=sys.stderr,
                    flush=True,
                )
        print(
            f"-- isolate: {min(i + chunk, len(names))}/{len(names)} done",
            file=sys.stderr,
            flush=True,
        )
    if failed:
        print(
            f"-- isolate: {len(failed)} quer"
            f"{'y' if len(failed) == 1 else 'ies'} unmeasured (failed "
            f"chunks): {', '.join(failed)}",
            file=sys.stderr,
            flush=True,
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--factor", type=float, default=1.5)
    ap.add_argument("--min-sf1-s", type=float, default=0.5)
    ap.add_argument("--update", action="store_true")
    ap.add_argument(
        "--isolate",
        type=int,
        default=0,
        metavar="N",
        help="restart the Spark JVM every N queries (0 = off; 25 is "
        "the recommended full-map setting — bounds the mid-run "
        "session-aging inflation, see module docstring)",
    )
    ap.add_argument(
        "--no-confirm",
        action="store_true",
        help="skip the automatic flag-confirmation re-measures "
        "(chunk-4 then solo isolation of flagged names)",
    )
    ap.add_argument(
        "--emit-json",
        default=None,
        help=argparse.SUPPRESS,  # internal: child mode for --isolate
    )
    args = ap.parse_args()

    if not Path(SF1_DIR).exists():
        print(
            f"{SF1_DIR} missing — regenerate the 10x upsample first "
            "(SCALING.md)",
            file=sys.stderr,
        )
        return 2

    registry_names = set(load_all())
    unknown = [n for n in args.queries if n not in registry_names]
    if unknown:
        # fail BEFORE paying Spark startup + warmup — a typo'd spot
        # re-measure would otherwise die mid-run with a bare KeyError
        print(f"unknown quer{'y' if len(unknown) == 1 else 'ies'}: "
              f"{', '.join(unknown)}", file=sys.stderr)
        return 2
    names = args.queries or list(load_all())

    if args.emit_json:
        # child mode (--isolate): measure this chunk and dump raw rows
        rows = measure(names, args.passes)
        Path(args.emit_json).write_text(json.dumps(rows))
        return 0

    scale = json.loads(SCALE_FILE.read_text())
    block = scale.get("full_catalog_sf1", {})
    prior = block.get("per_query", {})

    if args.isolate > 0:
        new = measure_isolated(names, args.passes, args.isolate)
    else:
        new = measure(names, args.passes)
    flags = diff(new, prior, args.factor, args.min_sf1_s)

    # Self-confirming flags (every r7 full-map flag — 19 of 19 — was
    # session-aging noise that cleared under tighter isolation): on
    # any flag, automatically re-measure JUST the flagged names at
    # chunk-4 isolation, then solo-chunk the survivors. Only flags
    # that survive both re-measures are recorded. The cleaner isolated
    # readings replace the originals in the map.
    if flags and not args.no_confirm:
        for conf_chunk, label in ((4, "chunk-4"), (1, "solo")):
            flagged = [f.split(":", 1)[0] for f in flags]
            print(
                f"-- confirming {len(flagged)} flag(s) at {label} "
                f"isolation: {', '.join(flagged)}",
                file=sys.stderr,
                flush=True,
            )
            re_rows = measure_isolated(flagged, max(args.passes, 3), conf_chunk)
            new.update(re_rows)
            flags = diff(re_rows, prior, args.factor, args.min_sf1_s)
            if not flags:
                break

    for line in readings(new, prior):
        print(line)
    for f in flags:
        print(f"REGRESSION {f}")
    print(f"{len(flags)} regression(s) over {len(new)} measured queries")
    missing = [n for n in names if n not in new]
    if missing:
        print(f"WARNING {len(missing)} queries unmeasured: "
              f"{', '.join(missing)}")

    if args.update:
        merged = {**prior, **new}
        block["per_query"] = merged
        block["total_sf0.1"] = round(
            sum(r["sf0.1"] for r in merged.values()), 3
        )
        block["total_sf1"] = round(sum(r["sf1"] for r in merged.values()), 3)
        if args.queries:
            # spot re-measure: merge the regression list (r6 advice) —
            # drop entries for the re-measured names, keep the rest,
            # append any new flags. Replacing wholesale would erase
            # the recorded history for untouched queries.
            remeasured = set(args.queries)
            block["regressions"] = [
                f
                for f in block.get("regressions", [])
                if f.split(":", 1)[0] not in remeasured
            ] + flags
        else:
            block["regressions"] = flags
        # stamp WHEN the map was (re)generated — round = number of
        # driver correctness records on disk + 1 (the in-progress
        # round), so the note can't silently describe stale data. A
        # spot update records itself separately and leaves the
        # full-map provenance note intact.
        rnd = len(list(ROOT.glob("CORRECTNESS_r*.json"))) + 1
        if args.queries:
            block["last_spot_update"] = (
                f"Round {rnd}: re-measured "
                f"{', '.join(sorted(args.queries))} "
                f"(passes={args.passes}, isolate={args.isolate})"
            )
        else:
            block["note"] = (
                f"Round {rnd}: full map ({len(new)} queries) by "
                f"tools/scale_gate.py (min-of-{args.passes} noop-sink "
                "at sf0.1 + the 10x localdata_sf1 upsample, --isolate "
                f"{args.isolate}; flags auto-confirmed at chunk-4 then "
                "solo isolation before being recorded). Known "
                "output-quadratic upsample outliers (documented, "
                "input-side work bucketed): d_embedding_neardup, "
                "d_semantic_dedup, d_simhash_pairs, d_span_dedup, "
                "s_knn_graph track replica-embedding pair-output "
                "cardinality."
            )
            block.pop("last_spot_update", None)
        scale["full_catalog_sf1"] = block
        SCALE_FILE.write_text(json.dumps(scale, indent=1) + "\n")
        print(f"updated {SCALE_FILE.name}")
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
