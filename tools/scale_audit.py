"""Scale audit harness — the hand-run 10x / x100 decade probes of
PLANS.md, promoted to one command with COMMITTED per-lane envelopes
(the d11-pin discipline generalized: a recorded range turns "is this
reading signal?" into a lookup instead of a re-investigation).

What it does:
  1. ensures the N-times near-duplicate scratch corpus exists
     (tools/build_scale_scratch.build — same corpus the PLANS.md
     audits used; built once per (N, sf) into /tmp and reused);
  2. measures each named lane at the BASE sf dir and at the scratch
     with bench.time_lane (the repo's one lane timer: best-of-R plus
     bench's extra run for heavy lanes) under bench.calibration's load
     guard and envelope;
  3. prints the PLANS.md audit row (markdown, paste-ready) and a JSON
     record to stderr/stdout;
  4. compares against tools/scale_envelopes.json — a reading outside
     a lane's committed envelope exits 1 (signal); inside is noise by
     definition. A loaded box (calibration probe outside its
     envelope) downgrades breaches to warnings — load-contaminated
     timings must not fail CI (two rounds were spent disproving
     phantom regressions that were exactly this).

Usage (run from /root/repo — the Python Data Source lanes pickle by
module reference and workers resolve the package via cwd):
    python tools/scale_audit.py                         # envelope lanes, 10x
    python tools/scale_audit.py --lanes d03_dedup_minhash_lsh --runs 6
    python tools/scale_audit.py --n 100 --lanes s11_arrow_vector_features
    python tools/scale_audit.py --update-envelopes      # re-baseline

Envelope file format (committed):
    {"10": {"<lane>": {"base_max_s": ..., "scaled_max_s": ...,
                       "ratio_max": ...}, ...}, "100": {...}}
Maxima carry ~1.7x headroom over the measurement that set them —
wider than the box's documented +/-15% drift, tight enough that a
lost pushdown / quadratic regression (the only real scale accidents
this repo has had) still trips them.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CAL_ENVELOPE_S, calibration, time_lane  # noqa: E402

ENVELOPE_PATH = os.path.join(os.path.dirname(__file__), "scale_envelopes.json")
HEADROOM = 1.7


def _ensure_scratch(n: int, sf: str, scratch: str) -> str:
    from tools.build_scale_scratch import build

    tables = ["documents", "events", "embeddings", "orders", "customer"]
    all_tables = tables + [
        "region", "nation", "supplier", "part", "lineitem",
    ]
    if all(
        os.path.exists(os.path.join(scratch, f"{t}.parquet"))
        for t in all_tables
    ):
        return scratch
    print(f"# building {n}x scratch at {scratch} from {sf}", file=sys.stderr)
    build(scratch, n, sf, tables)
    return scratch


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=10, help="scale factor multiple")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--scratch", default=None)
    ap.add_argument(
        "--lanes",
        default=None,
        help="comma-separated lane keys; default = the envelope file's"
        " lanes for --n",
    )
    ap.add_argument("--runs", type=int, default=2, help="best-of-R per side")
    ap.add_argument(
        "--update-envelopes",
        action="store_true",
        help="write measured*headroom back to the envelope file",
    )
    ap.add_argument(
        "--skip-base",
        action="store_true",
        help="only measure the scaled side (ratio omitted)",
    )
    args = ap.parse_args()

    envelopes: dict = {}
    if os.path.exists(ENVELOPE_PATH):
        with open(ENVELOPE_PATH) as f:
            envelopes = json.load(f)
    bucket = envelopes.setdefault(str(args.n), {})

    lanes = (
        args.lanes.split(",") if args.lanes else sorted(bucket)
    )
    if not lanes:
        print(
            "no lanes: pass --lanes or commit envelopes for this --n",
            file=sys.stderr,
        )
        sys.exit(2)

    scratch = args.scratch or f"/tmp/sf_scale_{args.n}x"
    _ensure_scratch(args.n, args.sf, scratch)

    from etl_sql_and_pyspark_developement__spark.session import get_spark

    spark = get_spark("scale-audit")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{args.sf}/region.parquet").count()  # warm
    cal = calibration(spark)
    loaded = cal > CAL_ENVELOPE_S

    results = {}
    breaches = []
    for key in lanes:
        base_lane = (
            None if args.skip_base else time_lane(spark, key, args.sf, args.runs)
        )
        scaled_lane = time_lane(spark, key, scratch, args.runs)
        base = base_lane["best"] if base_lane else None
        scaled = scaled_lane["best"]
        ratio = round(scaled / base, 2) if base else None
        results[key] = {
            "base_s": base,
            "scaled_s": scaled,
            "ratio": ratio,
            "base_times": base_lane["times"] if base_lane else None,
            "scaled_times": scaled_lane["times"],
        }
        env = bucket.get(key)
        verdict = "no-envelope"
        if env and not args.update_envelopes:
            over = []
            if base is not None and base > env.get("base_max_s", 1e9):
                over.append(f"base {base} > {env['base_max_s']}")
            if scaled > env.get("scaled_max_s", 1e9):
                over.append(f"scaled {scaled} > {env['scaled_max_s']}")
            if ratio is not None and ratio > env.get("ratio_max", 1e9):
                over.append(f"ratio {ratio} > {env['ratio_max']}")
            verdict = "BREACH: " + "; ".join(over) if over else "ok"
            if over and not loaded:
                breaches.append(key)
        if args.update_envelopes:
            # with --skip-base there IS no base/ratio measurement:
            # omit those keys (writing 0.0 would make every later
            # full run a phantom breach) and keep any committed
            # base/ratio bounds from the previous envelope.
            entry = dict(bucket.get(key, {}))
            entry["scaled_max_s"] = round(scaled * HEADROOM, 2)
            if base is not None:
                entry["base_max_s"] = round(base * HEADROOM, 2)
                entry["ratio_max"] = round(ratio * HEADROOM, 2)
            bucket[key] = entry
            verdict = "envelope-updated"
        print(
            f"# {key}: base={base}s scaled={scaled}s ratio={ratio}x"
            f" [{verdict}]",
            file=sys.stderr,
        )

    if args.update_envelopes:
        with open(ENVELOPE_PATH, "w") as f:
            json.dump(envelopes, f, indent=1, sort_keys=True)
        print(f"# envelopes written to {ENVELOPE_PATH}", file=sys.stderr)

    # the paste-ready PLANS.md audit row
    cells = " · ".join(
        f"{k} {v['base_s']}→{v['scaled_s']}s ({v['ratio']}×)"
        if v["base_s"] is not None
        else f"{k} {v['scaled_s']}s at {args.n}×"
        for k, v in results.items()
    )
    md = (
        f"| scale audit (tools/scale_audit.py, best-of-{args.runs},"
        f" {args.n}× sf0.1 scratch) | {cells} | calibration"
        f" {round(cal, 3)}s{' LOADED' if loaded else ''} |"
    )
    print(md)
    print(
        json.dumps(
            {
                "n": args.n,
                "runs": args.runs,
                "calibration_s": round(cal, 3),
                "loaded_box": loaded,
                "results": results,
                "breaches": breaches,
            },
            sort_keys=True,
        )
    )
    spark.stop()
    sys.exit(1 if breaches else 0)


if __name__ == "__main__":
    main()
