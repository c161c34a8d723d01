"""Heavy-lane spot bench at ~sf1 scale (r12, VERDICT item 3).

sf0.1 can no longer measure parallel efficiency — the driver's own r11
runs showed 8 cores BEATING 32 (192.6s vs 209.7s) because ~150s of the
total is per-lane fixed cost. This tool gives the data path a corpus
big enough to dominate that fixed cost, so the 8c/32c ratio can prove
(or refute) the spread/parallelism story end to end.

There is NO driver-generated sf1 testdata (TESTDATA.md: sf 0.001/0.01/
0.1 only, read-only), so this synthesizes a DETERMINISTIC 10x corpus
from sf0.1 — an "sf1-equivalent" for PERF ONLY, never for correctness
(no oracle runs here; the lanes' values at this scale are unspecified):

- documents x10: copy k remaps doc_id += k*100_000 and suffixes every
  token with "zz<k>" — token count and length distribution preserved,
  shingle vocabularies DISJOINT across copies, so near-dup machinery
  sees a genuinely larger corpus instead of 10 exact clones of every
  doc (which would quadratically explode candidate pairs and measure
  a pathology, not scale).
- embeddings x10: vec_id += k*100_000, first dimension nudged by
  k*1e-4 (keeps vectors distinct; distances irrelevant for perf).
- Both written with coalesce(1): ONE file, one row group — the same
  unsplittable-input shape the sf tables have, which is exactly what
  operators/spread.py repairs. That repair is the thing this bench
  exists to measure.

Build-once per (source mtime, factor) under $SPARK_GRAFT_HEAVY_DIR
(default /tmp/spark_graft_heavy); only documents+embeddings exist
there, so only lanes reading those two tables are eligible.

Usage:
    SPARK_GRAFT_CPUS=32 python tools/bench_heavy_sfx.py
    SPARK_GRAFT_CPUS=8  python tools/bench_heavy_sfx.py
Each run times the lane list with bench.time_lane (the repo's one lane
timer) and MERGES its column into tools/../BENCH_heavy_sf1.json keyed
by core count, so the committed record carries both columns. A lane
that raises is recorded under "skipped" with its exception class, and
the column stores os.cpu_count() beside its SPARK_GRAFT_CPUS label.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_lane  # noqa: E402

FACTOR = 10
# Corpus-scaling lanes that read ONLY documents/embeddings (the two
# synthesized tables), ordered by sf0.1 cost.
LANES = [
    "d02_dedup_ngram_jaccard",
    "d03_dedup_minhash_lsh",
    "d05_dedup_edit_distance",
    "d07_components_exact",
    "d08_embedding_neardup",
    "d11_semantic_dedup",
    "d17_cdc_chunk_dedup",
    "d18_ngram_novelty",
    "d19_containment_dedup",
    "s03_ann_ivf",
    "s05_knn_graph",
    "s08_ann_recall_eval",
    "s10_ivf_pq_ann",
    "t06_repetition",
    "t14_char_diversity",
]

RECORD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCH_heavy_sf1.json",
)


def _build(spark, src_dir: str, dest: str) -> None:
    from pyspark.sql import functions as F

    os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
    tmp = dest + ".tmp"
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    docs = spark.read.parquet(f"{src_dir}/documents.parquet")
    emb = spark.read.parquet(f"{src_dir}/embeddings.parquet")
    doc_parts = []
    emb_parts = []
    for k in range(FACTOR):
        suffixed = F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), " "),
                lambda t: F.concat(t, F.lit(f"zz{k}")),
            ),
        )
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * 100_000)).alias("doc_id"),
                suffixed.alias("text"),
                *[c for c in docs.columns if c not in ("doc_id", "text")],
            )
        )
        # Perturb ONE vec_id-dependent dimension per copy so copies are
        # neither identical nor uniformly-scaled (either would make
        # every copy an exact/cosine-1 near-dup of its source and turn
        # the near-dup lanes into a x100 pair pathology instead of a
        # bigger corpus).
        pert = F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            + F.when(
                i == F.pmod(F.col("vec_id") + F.lit(k), F.lit(64)),
                F.lit(0.2 * (k + 1)),
            ).otherwise(F.lit(0.0)),
        )
        emb_parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(k * 100_000)).alias("vec_id"),
                pert.alias("embedding"),
                *[c for c in emb.columns if c not in ("vec_id", "embedding")],
            )
        )
    d = doc_parts[0]
    for p in doc_parts[1:]:
        d = d.unionByName(p)
    e = emb_parts[0]
    for p in emb_parts[1:]:
        e = e.unionByName(p)
    # coalesce(1): reproduce the one-file/one-row-group input shape
    d.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    e.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
    os.replace(tmp, dest)
    open(os.path.join(dest, "_HEAVY_SUCCESS"), "w").write("ok")


def main() -> None:
    src_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    st = os.stat(os.path.join(src_dir, "documents.parquet"))
    root = os.environ.get("SPARK_GRAFT_HEAVY_DIR", "/tmp/spark_graft_heavy")
    dest = os.path.join(
        root, f"x{FACTOR}_{st.st_mtime_ns}_{st.st_size}"
    )
    from etl_sql_and_pyspark_developement__spark.session import get_spark

    spark = get_spark("bench-heavy-sfx")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not os.path.exists(os.path.join(dest, "_HEAVY_SUCCESS")):
        print(f"# building x{FACTOR} corpus at {dest}", file=sys.stderr)
        _build(spark, src_dir, dest)
    spark.read.parquet(f"{dest}/documents.parquet").count()  # warm

    timings: dict[str, float] = {}
    skipped: dict[str, str] = {}
    for key in LANES:
        try:
            timings[key] = time_lane(spark, key, dest)["best"]
        except Exception as ex:  # noqa: BLE001 — a lane needing an
            # un-synthesized table must not sink the whole record
            skipped[key] = type(ex).__name__
            print(f"# {key}: SKIPPED ({skipped[key]})", file=sys.stderr)
            continue
        print(f"# {key}: {timings[key]:.3f}s", file=sys.stderr)

    record = {}
    if os.path.exists(RECORD):
        with open(RECORD) as f:
            record = json.load(f)
    record.setdefault("provenance", {
        "source": "synthetic x10 of sf0.1 (no driver sf1 exists)",
        "factor": FACTOR,
        "layout": "coalesce(1) single-file tables (unsplittable-input shape)",
        "purpose": "perf-only: 8c vs 32c scaling of the heavy data-path lanes",
    })
    record.setdefault("cpus", {})[str(cpus)] = {
        "total_s": round(sum(timings.values()), 3),
        "queries": timings,
        "skipped": skipped,
        "os_cpu_count": os.cpu_count(),
    }
    with open(RECORD, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps({
        "cpus": cpus,
        "total_s": round(sum(timings.values()), 3),
        "n": len(timings),
        "skipped": skipped,
        "record": os.path.basename(RECORD),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
