#!/usr/bin/env python3
"""Per-stage row/token attrition for the pl5 curation pipeline
(VERDICT r12 ask #5's "record the stage-by-stage row attrition").

Replays pl5_curation_pipeline's stages with eager staging points and
prints one row per stage: docs in, docs surviving, tokens surviving.
The gate itself oracle-pins the END state; this script pins the path —
run it at any SF (including the gitignored .testdata/sf1) and paste
the table into PLANS.md.

Usage: python scripts/pl5_attrition.py [--json-out PATH] [sf_dir ...]
       (default: /root/testdata/sf0.001 sf0.01 sf0.1 + .testdata/sf1)

``--json-out`` appends one JSON line per sf_dir (stage walls +
doc/token attrition) — the machine-diffable bench_scale.json sidecar
(VERDICT r14 ask #7).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run(spark, sf_dir: str) -> list[tuple]:
    from pyspark.sql import functions as F

    from sparkt.functions import dedup as D
    from sparkt.functions import sampling as SP
    from sparkt.functions import text as TX
    from sparkt.queries.pipeline import T, _pl5_columns

    rows = []
    _t_prev = [time.time()]

    def stage(name, df, tok_col=None):
        # per-stage wall = time since the previous stage's count
        # finished (the eager localCheckpoints mean each stage's work
        # executes inside its own span — VERDICT r13 #4 asked for the
        # sf1 stage walls, not just the total)
        if tok_col:
            r = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(tok_col).alias("t"),
            ).collect()[0]
            n, t = int(r["n"]), int(r["t"] or 0)
        else:
            n, t = df.count(), None
        now = time.time()
        rows.append((name, n, t, now - _t_prev[0]))
        _t_prev[0] = now
        return df

    docs = T(spark, sf_dir, "documents").localCheckpoint(eager=False)
    stage("0 input corpus", docs)
    norm = docs.select(
        "doc_id", "source", TX.normalize_text(F.col("text")).alias("text")
    )
    bench = norm.filter(F.col("doc_id") % 97 == 0)
    stage("0b eval slice (held out)", bench)
    corpus = norm.filter(F.col("doc_id") % 97 != 0)

    pre, mid, out = _pl5_columns()
    scored = (
        corpus.select(*pre).select(*mid).select(*out)
        .localCheckpoint(eager=False)
    )
    en = scored.filter(F.col("__lang") == "en")
    stage("2 lang-id == en", en, "n_tokens")
    qual = en.filter(
        (F.col("__q") >= 0.4)
        & (F.col("__dup") <= 0.93)
        & (F.col("__bg") <= 0.08)
    ).select("doc_id", "source", "text", "n_tokens")
    qual = qual.localCheckpoint(eager=True)
    stage("3 quality+repetition", qual, "n_tokens")

    pairs = D.simhash_neardup_pairs64(qual, "text", "doc_id", k=3)
    removed = (
        D.duplicate_clusters(pairs)
        .filter(F.col("doc") != F.col("cluster"))
        .select(F.col("doc").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    uniq = qual.join(removed, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )
    stage("4 near-dup removal", uniq, "n_tokens")

    flagged = D.decontaminate(
        uniq, bench, "text", "doc_id", k=3, threshold=0.05,
    ).select(F.col("doc").alias("doc_id")).localCheckpoint(eager=True)
    clean = uniq.join(flagged, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )
    stage("5 decontaminated", clean, "n_tokens")

    domained = clean.withColumn(
        "domain",
        F.concat(
            F.lit("dom"),
            (F.regexp_replace(F.col("source"), "src", "").cast("int") % 3)
            .cast("string"),
        ),
    )
    kept = SP.apply_mixture(
        domained, "domain", "doc_id", "n_tokens",
        {"dom0": 3.0, "dom1": 1.0, "dom2": 1.0},
        budget_tokens=2000, salt="pl5mix",
    ).localCheckpoint(eager=True)
    stage("6 mixture (2000-token budget)", kept, "n_tokens")

    sharded = SP.shuffle_shards(
        kept, "doc_id", "n_tokens",
        seed="pl5", shard_size=512, prefix_chars=2,
    )
    n_shards = sharded.select("shard_id").distinct().count()
    rows.append(("7 shards (512-token)", n_shards, None,
                 time.time() - _t_prev[0]))
    return rows


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json-out" in argv:
        i = argv.index("--json-out")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    dirs = argv or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        os.path.join(REPO, ".testdata", "sf1"),
    ]
    from sparkt.session import get_spark

    spark = get_spark(app_name="pl5-attrition")
    spark.sparkContext.setLogLevel("ERROR")
    for d in dirs:
        if not os.path.isdir(d):
            print(f"skip {d}: not found")
            continue
        t0 = time.time()
        rows = run(spark, d)
        wall = time.time() - t0
        if json_out:
            import json

            with open(json_out, "a") as f:
                f.write(json.dumps({
                    "sf_dir": d,
                    "wall_s": round(wall, 1),
                    "stages": [
                        {"stage": name, "docs": n, "tokens": t,
                         "wall_s": round(w, 1)}
                        for name, n, t, w in rows
                    ],
                }) + "\n")
        print(f"\n== {d}  (wall {wall:.1f}s)")
        print(f"{'stage':<34}{'docs':>10}{'tokens':>12}{'wall_s':>9}")
        for name, n, t, w in rows:
            print(
                f"{name:<34}{n:>10}{'' if t is None else t:>12}"
                f"{w:>9.1f}"
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
