"""Measured 10x scale smoke: synthesize a ~sf1 dataset under /tmp by
key-remapped replication of sf0.1, run the scalable headline operators
at both scales, and print the wall-clock scaling ratio per query.

This is the empirical check behind every "would this survive 10x?"
claim in the operator docstrings: a plan whose ratio is ~linear (<=
~10x on 10x rows on fixed local cores, usually far less while cores
are underutilized at sf0.1) scales; a superlinear ratio flags a
quadratic kernel or a collapsed partition.

Replication scheme (i = 0..9):
  lineitem/orders : order keys shifted by i*KEYSPAN      (joins stay 1:N)
  customer        : unchanged (dims fixed; fact/dim ratio grows)
  events          : event_id shifted; ts shifted +i*35 days (longer
                    timeline, same density -> window/session state grows
                    in KEY COUNT, not per-key size); user_id shifted for
                    half the copies (population x5, sequences x2)
  documents       : doc_id shifted, text salted per copy (dedup groups
                    keep their within-copy structure instead of
                    exploding 10x across copies)

Usage: python scripts/scale_smoke.py [n_copies]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sparkstreaming_mq_spark import registry
from sparkstreaming_mq_spark.session import get_spark
from sparkstreaming_mq_spark.tables import load_table

SRC = "/root/testdata/sf0.1"
KEYSPAN = 10_000_000

# queries whose inputs replicate meaningfully (no LSH-family: salted
# text keeps their pair structure, and their cost story is already
# covered by the cost-based kernel switch)
QUERIES = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier",
    "j1_inner_equi",
    "j8_asof",
    "w1_rank_offsets",
    "w5_reset_running",
    "o1_global_sort",
    "a12_bitmap_distinct",
    "a13_time_weighted_avg",
    "e4_rolling_active",
    "e5_sequence_patterns",
    "l1_exact_dedup",
    "l4_text_metrics",
    "a11_heavy_hitters",
    "a14_histogram",
    "o16_global_rownum",
    "f11_fuzzy_match",
    "l33_source_overlap",
    # l38 rides the same shingle postings as l33 — its two-shuffle
    # aggregate shape is what must stay linear. (l39 is excluded: the
    # replicated corpus makes EVERY shingle cross-doc (df>=2 by
    # construction), so its covered-position output saturates — a
    # salting artifact, not an engine cost.)
    "l38_dup_density",
    "l42_novelty_attribution",  # same postings shape as l38 (fp-keyed)
    "e7_streak_islands",
    "g3_khop_reach",
    "l41_perplexity_buckets",
    "g1_pagerank",
    # streaming: the chunked replay source keys its /tmp cache on the
    # events.parquet fingerprint of WHATEVER dir it gets, so the 10x
    # events table replays through the same source + chained stateful
    # pipeline (first run pays the one-off chunk materialization).
    "t14_chained_windows",
    "t16_union_dedup_window",
    "t15_join_then_window",  # stream-stream join chain: the largest state shape
    # ANN family: embeddings replicate 10x (20k vecs), which crosses
    # ANN_SMALL_N — K jumps to floor(sqrt(N)) = 141 and the >64-centroid
    # broadcast-join assignment/probe paths run in anger instead of the
    # fixture's literal-expression paths. Probe cost per query is
    # nprobe/K of the corpus (~1.4% at 10x vs 12.5% at 1x): the whole
    # point of the sqrt(N) parameterization, timed here.
    "l3_cosine_topk",
    "l28_kmeans_embed",
    "l3d_ivf_exact",
    "l31_pq_search",
    "l35_matryoshka_probe",
    # r7 continuation additions: report shapes replicate through the
    # fact tables; the time-series grid grows with the x10 timeline
    # (population x5, span x10) on both the batch and streaming paths.
    "ds1_yoy_growth",
    "ds2_cumulative_compare",
    "ts1_gapfill_interp",
    "ts2_ohlc_bars",
    "s18_stream_ohlc",
    "s19_stream_gapfill",
    "ts3_seasonal_profile",
    "j16_stream_temporal_join",  # per-user containment pairs: measured 0.5x at 10x (warm)
    "ds3_hierarchy_rank",
    # r8 additions: ds4 replicates through lineitem (output bounded at
    # |types|*k by the group-limit); ds5's per-order supplier/return
    # structure is copy-local so the semi-chain survivor set scales
    # with the corpus.
    "ds4_rollup_topk",
    "ds5_semi_join_chain",
    # r9: a5c after the accumulate rework — events replicate with a
    # longer timeline (more days/weeks), partials stay Arrow-batch
    # bounded and only sketch rows shuffle; count() cannot prune the
    # grouped-map stages, so the sketch pipeline runs in full.
    "a5c_quantile_rollup",
    # r9 additions: ds8's stats frame is bounded by |brands|x|months|
    # (months grow with the replicated timeline); ds9's band filter
    # collapses before the joins; t18 replays the grown events table
    # through the chunked source with sketch state per week.
    "ds8_variance_streaks",
    "ds9_banded_trips",
    "t18_stream_quantile_sketch",
    # g4: recursion depth grows log(max remapped key) at 10x/30x (the
    # user_id shift pushes keys to ~50M -> ~26 levels vs ~14 at sf0.1)
    "g4_recursive_rollup",
    # j17's lateral decorrelates to a part-scan window (part is a dim,
    # fixed across copies — ratio should be ~flat); ds10 aggregates the
    # replicated fact to brand-month cells before its window.
    "j17_lateral_topk",
    "ds10_moving_deviation",
    # r10 skew-mitigation operators on UNIFORM replicas (their skew-dir
    # behavior is skew_smoke.py's job): j18's count pass + cold join
    # must stay linear; w6's two windows must stay linear with the
    # phase-2 frame bounded at |types|·32·k.
    "j18_hybrid_skew_join",
    "w6_twophase_topk",
    # t19: t15's interval join with the time bucket in the equality
    # key — on uniform replicas the 2× probe explode is the only cost
    # (t15 is the control; the skew-dir contrast is skew_smoke's job).
    "t19_bucketed_interval_join",
    # ds11: one pushed-filter scan + single-row conditional agg — the
    # flattest possible ladder shape; a superlinear step here would
    # mean scan-layer trouble, nothing else.
    "ds11_timeband_counts",
    # j20: pure range join via time-span binning — pair count is
    # density-bounded (events/hour grows ~3× on the stretched 10×
    # timeline), so the ratio tracks output pairs, not |A|·|B|.
    "j20_binned_range_join",
    # ds12: one conditional-agg scan reduces to day grain before the
    # running windows — O(days) frames after the first exchange.
    "ds12_cumulative_crossover",
    # t20: per-batch CDC merge — since r11 delta-pruned (only touched
    # buckets rewrite), so the ladder tracks users (×5 at 10×) +
    # events, not epochs²; rewrite-BYTES evidence is
    # measurements/cdc_rewrite_probe_30x_r11.json.
    "t20_stream_cdc_upsert",
    # a15 (r11, VERDICT r10 item 5): two-exchange grouped-mode shape is
    # group-bounded — the rung proves the flatness claim.
    "a15_grouped_mode",
    # j10d (r11): bucketed-key LEFT OUTER stream-stream join — uniform
    # cost is the 2× probe explode (t19's trade); skew contrast is the
    # streaming-skew table's job.
    "j10d_bucketed_outer_join",
    # ds13 (r11): fused line-grain conditional agg + customer rollup —
    # two fact-sized exchanges, should track rows.
    "ds13_returns_impact",
    # ts4 (r11): bounds pass + bucket pass, one O(types×W) exchange —
    # flattest shape after ds11.
    "ts4_downsample_paa",
    # l49 (r11): df-capped containment pairs — pair fanout ≤ cap² per
    # shingle; replicated corpora salt text per copy so cross-copy
    # pairs don't explode (same property l38/l42 rely on).
    "l49_containment_pairs",
    # w7/j21 (r11): single-exchange window shapes — should track rows.
    "w7_trailing_range_frame",
    "j21_nearest_asof",
    # ts6 (r11): (type, hour) collapse then windows over the
    # O(types×hours) frame — tracks the timeline stretch, not rows.
    "ts6_cusum_changepoint",
    # w8 (r11): rank window + broadcast bounds on one exchange —
    # should track rows like w1.
    "w8_winsorized_mean",
    # x6 (r11): one 2-column scan + 20-key conditional agg — ds11-class
    # flat shape.
    "x6_distribution_drift",
    # l50 (r11): prefix-filtered similarity join. NOTE the copy-salt
    # only appends one token, so every cross-copy pair of the same
    # base doc is a GENUINE >=0.8 near-dup (J = n/(n+2)): output is
    # quadratic in copy count by construction — the rung's wall is
    # output-bound, read it against rows_out like l49's. (u9 is
    # excluded: per-row-Python API demonstrator, the U1-class
    # surface.)
    "l50_prefix_filter_join",
    # e8: chained conditional windows on one user_id exchange — should
    # track rows; a17: one returnflag exchange, same class as w1.
    "e8_timebound_funnel",
    "a17_weighted_median",
    # t21: per-epoch 10-key histogram over the chunked replay — the
    # gate's cost is the scan; the log is O(epochs).
    "t21_stream_drift_gate",
    # a18: basket-local pair explode (fanout <= basket^2, baskets are
    # order-sized) + one combinable pair exchange; pair space is
    # bounded by the part vocabulary squared, fixed across copies.
    "a18_copurchase_rules",
]


def build(spark, out_dir: str, n_copies: int) -> None:
    done = os.path.join(out_dir, "_READY")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    copies = spark.range(n_copies).withColumnRenamed("id", "i")

    def rep(name: str, df):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))

    li = load_table(spark, SRC, "lineitem").crossJoin(F.broadcast(copies))
    rep(
        "lineitem",
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.col("i") * KEYSPAN).drop("i"),
    )
    orders = load_table(spark, SRC, "orders").crossJoin(F.broadcast(copies))
    rep(
        "orders",
        orders.withColumn("o_orderkey", F.col("o_orderkey") + F.col("i") * KEYSPAN).drop("i"),
    )
    ev = load_table(spark, SRC, "events").crossJoin(F.broadcast(copies))
    rep(
        "events",
        ev.withColumn("event_id", F.col("event_id") + F.col("i") * KEYSPAN)
        .withColumn("ts", F.col("ts") + F.make_interval(days=F.col("i") * F.lit(35)))
        .withColumn("user_id", F.col("user_id") + (F.col("i") % 5) * KEYSPAN)
        .drop("i"),
    )
    docs = load_table(spark, SRC, "documents").crossJoin(F.broadcast(copies))
    rep(
        "documents",
        docs.withColumn("doc_id", F.col("doc_id") + F.col("i") * KEYSPAN)
        .withColumn("text", F.concat(F.col("text"), F.lit(" copy"), F.col("i")))
        .drop("i"),
    )
    # embeddings replicate too (vec_id shifted by a SMALL span so the
    # first-K-vec_ids k-means init stays a mixed sample, vectors
    # perturbed per copy so copies aren't degenerate duplicates)
    emb = load_table(spark, SRC, "embeddings").crossJoin(F.broadcast(copies))
    rep(
        "embeddings",
        emb.withColumn("vec_id", F.col("vec_id") * n_copies + F.col("i"))
        .withColumn(
            "embedding",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x, j: (x + (F.col("i") * 0.003) * F.when(j == F.col("i") % 64, 1.0).otherwise(0.0)).cast("float"),
            ),
        )
        .drop("i"),
    )
    for dim in ("region", "nation", "customer", "supplier", "part"):
        rep(dim, load_table(spark, SRC, dim))
    open(done, "w").close()


def main() -> int:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    # optional extra args: query-name substrings to restrict the sweep
    filters = sys.argv[2:]
    out_dir = f"/tmp/sparkgraft_scale_{n_copies}x_v2"  # v2: embeddings replicated
    registry.load_all()
    # local-mode default driver heap is 1g — enough for the sf<=0.1
    # fixtures, OOMs on the 10x build (32 concurrent parquet-write
    # tasks). This is a per-process setting, so the smoke runs in its
    # own session with an explicit heap.
    spark = get_spark(
        app_name="scale-smoke",
        shuffle_partitions=64,
        extra_conf={"spark.driver.memory": "24g"},
    )
    t0 = time.time()
    build(spark, out_dir, n_copies)
    print(f"build: {time.time() - t0:.1f}s -> {out_dir}")

    results = {}
    names = [
        n for n in QUERIES if not filters or any(f in n for f in filters)
    ]
    for name in names:
        fn = registry.QUERIES[name]
        times = {}
        for label, sf_dir in (("sf0.1", SRC), (f"{n_copies}x", out_dir)):
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            times[label] = (round(time.time() - t0, 2), n)
        ratio = times[f"{n_copies}x"][0] / max(times["sf0.1"][0], 1e-9)
        results[name] = {
            "sf0.1_s": times["sf0.1"][0],
            f"{n_copies}x_s": times[f"{n_copies}x"][0],
            "ratio": round(ratio, 1),
            "rows_out": times[f"{n_copies}x"][1],
        }
        print(f"{name:28s} {times['sf0.1'][0]:7.2f}s -> {times[f'{n_copies}x'][0]:7.2f}s  ({ratio:4.1f}x)  rows={times[f'{n_copies}x'][1]}")
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
