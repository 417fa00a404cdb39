"""Runnable walkthrough of the preference-data stack: the annotation
quality gate (Cohen's kappa), the batch Bradley-Terry fit, and the
streaming-incremental fit that tracks a growing comparison log.

    python examples/preference_demo.py

1. Gates the corpus on annotator agreement — kappa between the
   documents table's labeled `lang` and the language-ID heuristic
   (two raters over one label log).
2. Derives a pairwise comparison log from the events table (per user,
   adjacent events pit their event_types against each other; higher
   `value` wins) and fits batch Bradley-Terry strengths.
3. Streams the SAME log in four micro-batches through
   StreamingBradleyTerry (pair-table deltas + warm-started MM),
   printing the strength trajectory after each batch and the final
   report next to the batch fit.
4. Ends with the at-least-once checks: a re-delivered batch is a
   no-op, and the crash-replayed append is healed by the cumulative
   read's dedup.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from storm_dynamic_spout_spark.engine import EngineConfig, build_session, load_table
from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint

SF = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
BATCHES = 4


def comparison_log(spark):
    e = load_table(spark, SF, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    lagged = e.select(
        "event_id",
        "event_type",
        "value",
        F.lag("event_type").over(w).alias("pt"),
        F.lag("value").over(w).alias("pv"),
    )
    return lagged.filter(
        F.col("pt").isNotNull()
        & (F.col("event_type") != F.col("pt"))
        & (F.col("value") != F.col("pv"))
    ).select(
        "event_id",
        F.when(F.col("value") > F.col("pv"), F.col("event_type"))
        .otherwise(F.col("pt"))
        .alias("winner"),
        F.when(F.col("value") > F.col("pv"), F.col("pt"))
        .otherwise(F.col("event_type"))
        .alias("loser"),
    )


def main() -> int:
    from storm_dynamic_spout_spark.operators.ranking import (
        bradley_terry_strengths,
        cohen_kappa,
        pairwise_win_counts,
    )
    from storm_dynamic_spout_spark.operators.text import lang_id
    from storm_dynamic_spout_spark.streaming.bt_stream import StreamingBradleyTerry

    spark = build_session(
        EngineConfig({"spark.master": "local[8]", "spark.shuffle_partitions": 8})
    )
    spark.sparkContext.setLogLevel("ERROR")

    # -- 1. annotation quality gate -----------------------------------------
    d = load_table(spark, SF, "documents")
    log = d.select(
        F.col("doc_id").alias("item"),
        F.lit("gold").alias("rater"),
        F.col("lang").alias("label"),
    ).unionByName(
        d.select(
            F.col("doc_id").alias("item"),
            F.lit("langid").alias("rater"),
            lang_id(F.col("text")).alias("label"),
        )
    )
    gate = cohen_kappa(log, "item", "rater", "label", "gold", "langid").first()
    print(
        f"== annotation gate: kappa={gate['kappa']} "
        f"(po={gate['po']}, pe={gate['pe']}, n={gate['n_items']})"
        " — chance-corrected agreement between label and classifier"
    )

    # -- 2. batch fit ---------------------------------------------------------
    comp = local_checkpoint(comparison_log(spark), eager=True)
    n_comp = comp.count()
    batch_fit = {
        r["item"]: r
        for r in bradley_terry_strengths(
            pairwise_win_counts(comp, "winner", "loser")
        ).collect()
    }
    print(f"\n== batch Bradley-Terry over {n_comp} comparisons:")
    for item, r in sorted(
        batch_fit.items(), key=lambda kv: -kv[1]["strength"]
    ):
        print(
            f"   {item:<10} strength={r['strength']:<9} "
            f"wins={r['n_wins']}/{r['n_comparisons']}"
        )

    # -- 3. streaming fit -----------------------------------------------------
    idx = StreamingBradleyTerry(tempfile.mkdtemp(prefix="bt-demo-"))
    print(
        f"\n== streaming the same log in {BATCHES} micro-batches"
        f" (pair deltas + {idx.iterations} warm-started MM iterations/batch):"
    )
    for k in range(BATCHES):
        b = comp.filter(F.col("event_id") % BATCHES == k).select(
            "winner", "loser"
        )
        idx.process_batch(b, k)
        rep = {
            r["item"]: r["strength"]
            for r in idx.strengths_report(spark).collect()
        }
        top = sorted(rep.items(), key=lambda kv: -kv[1])
        print(
            f"   after batch {k + 1}/{BATCHES}: "
            + "  ".join(f"{i}={s}" for i, s in top)
        )

    stream_fit = {
        r["item"]: r for r in idx.strengths_report(spark).collect()
    }
    agree = [i for i, _ in sorted(batch_fit.items(), key=lambda kv: -kv[1]["strength"])] == [
        i for i, _ in sorted(stream_fit.items(), key=lambda kv: -kv[1]["strength"])
    ]
    print(f"   streaming vs batch ranking order agrees: {agree}")

    # -- 4. at-least-once -------------------------------------------------------
    state = sorted(
        (r["item"], r["__p_micro"]) for r in idx.strengths(spark).collect()
    )
    replay = idx.process_batch(
        comp.filter(F.col("event_id") % BATCHES == BATCHES - 1).select(
            "winner", "loser"
        ),
        BATCHES - 1,
    )
    healed = sorted(
        (r["item"], r["__p_micro"]) for r in idx.strengths(spark).collect()
    )
    print(
        f"\n== re-delivered last batch: accepted={replay} (False = no-op),"
        f" state unchanged: {state == healed}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
