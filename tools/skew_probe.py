"""Skew probe: a 10× blow-up of sf0.1 with celebrity hot keys, run
against the heaviest catalog queries — the cheapest available evidence
for the "survives 100×" scale claims the sf-fixture gates can't test.

Blow-up shape (written once to /tmp/spark_graft_skew10x):

* ``documents`` ×10: replica i of each doc gets a fresh first token
  (``b{i}x``), so block/shingle structure replicates at 10× volume —
  EXCEPT 20% of replica docs, which all get the SAME first token
  (``hothotskew``), forming one ~9 000-doc celebrity block (and a set
  of corpus-hot shingles).
* ``events`` ×10: replica events keep their user EXCEPT 30%, which
  all collapse onto user_id=7 — one celebrity user holding ~27% of
  the 1.1M-row log.
* ``lineitem`` ×10 (fresh order keys): replica rows keep their part
  EXCEPT 10%, which all collapse onto l_partkey=1 — a celebrity
  vertex in the co-purchase graph whose degree is the distinct
  co-part set of ~10% of the log (the node degree-oriented triangle
  counting exists to survive; replica orders otherwise repeat their
  original part combinations, so the DISTINCT edge set stays near 1×
  and the probe isolates the hot vertex, not graph growth).
* ``embeddings`` ×3 with per-replica jitter (+0.003·i on every
  component): replicas stay inside their original's k-means cluster,
  so SemDeDup's within-cluster quadratic sees ~3× members ⇒ ~9× pair
  work — the bounded-blowup contract under duplication-heavy input.
* every other table is the sf0.1 original (symlink).

Each probed query's own plan contract is what should absorb the skew:

| query | contract under test |
|---|---|
| q_dedup_ngram_jaccard | MAX_SHINGLE_DF posting-list cap |
| q_dedup_fuzzy_edit | FUZZY_MAX_BLOCK hot-block drop + pair re-spread |
| q_pipeline_entity_resolution | same + per-round CC materialization |
| q_dedup_minhash | banded bucket join (bucket-bounded pairs) |
| q_graph_pagerank | one-pass pair set + AQE on the hot vertex |
| q_join_salted_skew | explicit fact-side salting |
| q_events_sessionize | per-user windows under one hot user |
| q_events_sessionize_salted | time-chunk salt spreads the hot user |
| q_graph_triangle_count | degree-oriented wedge closure at a celebrity vertex |
| q_dedup_semantic | cluster-size² bound under 3× duplication |
| q_embedding_kmeans | map-only assignment stays linear in corpus |
| q_dedup_substring_spans | MAX_SPAN_DF hot-window cap (r9) |
| q_dedup_substring_removal | NO cap needed: window->DF count only, per-doc work bounded by doc length (r11; measured 7.6s -> 85.5s plain->10x with near-TOTAL window sharing — ~linear, no blowup) |
| q_quality_decontaminate | broadcast benchmark grams; corpus side map-only (the hashed-key helper spelling measured 0.9s -> 4.9s plain->10x, sublinear) |
| q_dedup_winnowing | 1/8 mod-p selection + MAX_FP_DF cap (r9) |
| q_events_interval_coverage | per-user windows under one hot user (r9) |
| q_events_interval_coverage_salted | time-chunk salt spreads the hot user; grouping-invariant two-phase merge (r9) |
| q_late_supplier_blame | all joins keyed on the (non-hot) orderkey — growth must stay ~linear in volume (r9) |

Usage:  python tools/skew_probe.py [--regen] [--hot] [--ann] [query ...]
Results land in stdout; record them in BENCHNOTES.md.  ``--ann`` runs
the r13 hot-centroid stored-ANN probe (see run_ann_probe).

HOT-USER MODE (``--hot``, r10): the r9 probe showed salted
sessionization TYING the plain form at a 330k-row hot user — per-task
overhead hides the phase-split win at that size.  ``--hot`` builds a
30× events-only fixture where ~35% of replica events collapse onto
user 7 (≈1.2M rows in ONE user's partition) and probes the
sessionize pair head-to-head: the scale where the plain form's
single hot task dominates the stage and salting must win.  Crossover
numbers land in SCALE.md §6.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

SRC = "/root/testdata/sf0.1"
DST = "/tmp/spark_graft_skew10x"
REPLICAS = 9  # plus the original = 10x
EMB_REPLICAS = 2  # plus the original = 3x (pair work grows ~9x)
HOT_USER = 7
HOT_PART = 1
PROBES = [
    "q_dedup_ngram_jaccard",
    "q_dedup_fuzzy_edit",
    "q_pipeline_entity_resolution",
    "q_dedup_minhash",
    "q_graph_pagerank",
    "q_join_salted_skew",
    "q_events_sessionize",
    "q_events_sessionize_salted",
    "q_graph_triangle_count",
    "q_dedup_semantic",
    "q_embedding_kmeans",
    "q_dedup_substring_spans",
    "q_dedup_winnowing",
    "q_dedup_substring_removal",
    "q_quality_decontaminate",
    "q_events_interval_coverage",
    "q_events_interval_coverage_salted",
    "q_late_supplier_blame",
]


def generate() -> None:
    import duckdb

    if os.path.isdir(DST):
        shutil.rmtree(DST)
    os.makedirs(DST)
    for table in (
        "region nation customer supplier part orders"
    ).split():
        os.symlink(
            os.path.join(SRC, f"{table}.parquet"),
            os.path.join(DST, f"{table}.parquet"),
        )
    con = duckdb.connect()
    con.execute(
        f"""
COPY (
  SELECT doc_id, text, lang, source, n_chars
  FROM '{SRC}/documents.parquet'
  UNION ALL
  SELECT doc_id + i * 1000000000,
         CASE WHEN doc_id % 5 = 0 THEN 'hothotskew ' || text
              ELSE 'b' || i || 'x ' || text END,
         lang, source, n_chars
  FROM '{SRC}/documents.parquet', UNNEST(generate_series(1, {REPLICAS})) t(i)
) TO '{DST}/documents.parquet' (FORMAT parquet)
"""
    )
    con.execute(
        f"""
COPY (
  SELECT event_id, ts, user_id, event_type, value, props
  FROM '{SRC}/events.parquet'
  UNION ALL
  SELECT event_id + i * 1000000000,
         ts + to_microseconds(i),
         CASE WHEN event_id % 10 < 3 THEN {HOT_USER} ELSE user_id END,
         event_type, value, props
  FROM '{SRC}/events.parquet', UNNEST(generate_series(1, {REPLICAS})) t(i)
) TO '{DST}/events.parquet' (FORMAT parquet)
"""
    )
    con.execute(
        f"""
COPY (
  SELECT * FROM '{SRC}/lineitem.parquet'
  UNION ALL
  SELECT l_orderkey + i * 1000000000,
         CASE WHEN (l_orderkey + l_linenumber) % 10 = 0 THEN {HOT_PART}
              ELSE l_partkey END,
         l_suppkey, l_linenumber, l_quantity, l_extendedprice,
         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
  FROM '{SRC}/lineitem.parquet', UNNEST(generate_series(1, {REPLICAS})) t(i)
) TO '{DST}/lineitem.parquet' (FORMAT parquet)
"""
    )
    con.execute(
        f"""
COPY (
  SELECT vec_id, embedding, label FROM '{SRC}/embeddings.parquet'
  UNION ALL
  SELECT vec_id + i * 1000000000,
         list_transform(embedding, x -> CAST(x + 0.003 * i AS FLOAT)),
         label
  FROM '{SRC}/embeddings.parquet',
       UNNEST(generate_series(1, {EMB_REPLICAS})) t(i)
) TO '{DST}/embeddings.parquet' (FORMAT parquet)
"""
    )
    docs = con.execute(
        f"SELECT count(*) FROM '{DST}/documents.parquet'"
    ).fetchone()[0]
    hot = con.execute(
        f"""SELECT count(*) FROM '{DST}/documents.parquet'
            WHERE split_part(text, ' ', 1) = 'hothotskew'"""
    ).fetchone()[0]
    ev = con.execute(f"SELECT count(*) FROM '{DST}/events.parquet'").fetchone()[0]
    ev_hot = con.execute(
        f"SELECT count(*) FROM '{DST}/events.parquet' WHERE user_id = {HOT_USER}"
    ).fetchone()[0]
    li_hot = con.execute(
        f"SELECT count(*) FROM '{DST}/lineitem.parquet' WHERE l_partkey = {HOT_PART}"
    ).fetchone()[0]
    n_emb = con.execute(
        f"SELECT count(*) FROM '{DST}/embeddings.parquet'"
    ).fetchone()[0]
    print(
        f"# generated: {docs} docs (hot block {hot}), "
        f"{ev} events (hot user {ev_hot}), "
        f"lineitem hot part {li_hot} rows, {n_emb} embeddings"
    )


HOT_DST = "/tmp/spark_graft_skew_hotuser"
ANN_DST = "/tmp/spark_graft_ann_skew"
HOT_REPLICAS = 29  # plus the original = 30x events
HOT_FRACTION = 35  # % of replica events collapsing onto HOT_USER
HOT_PROBES = ["q_events_sessionize", "q_events_sessionize_salted"]


def generate_hot() -> None:
    """Events-only 30× blow-up with a ≥1M-row celebrity user — the
    sessionization crossover fixture (other tables symlink sf0.1)."""
    import duckdb

    if os.path.isdir(HOT_DST):
        shutil.rmtree(HOT_DST)
    os.makedirs(HOT_DST)
    for table in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        os.symlink(
            os.path.join(SRC, f"{table}.parquet"),
            os.path.join(HOT_DST, f"{table}.parquet"),
        )
    con = duckdb.connect()
    con.execute(
        f"""
COPY (
  SELECT event_id, ts, user_id, event_type, value, props
  FROM '{SRC}/events.parquet'
  UNION ALL
  SELECT event_id + i * 1000000000,
         ts + to_microseconds(i),
         CASE WHEN event_id % 100 < {HOT_FRACTION} THEN {HOT_USER}
              ELSE user_id END,
         event_type, value, props
  FROM '{SRC}/events.parquet', UNNEST(generate_series(1, {HOT_REPLICAS})) t(i)
) TO '{HOT_DST}/events.parquet' (FORMAT parquet)
"""
    )
    total, hot = con.execute(
        f"""SELECT count(*),
                   count(*) FILTER (user_id = {HOT_USER})
            FROM '{HOT_DST}/events.parquet'"""
    ).fetchone()
    print(f"# generated hot-user fixture: {total} events, {hot} on user {HOT_USER}")


def run_ann_probe() -> None:
    """HOT-CENTROID mode (``--ann``, r13): the stored-ANN failure mode
    file-level routing meets at 100 TB — a skewed corpus where ~60% of
    all vectors fall in ONE IVF cell (and hash into one celebrity LSH
    bucket per table), so a probe routed there admits the hot cell's
    entire mass while the uniform case admits ~1/n_centroids.

    Builds TWO 4× corpora from sf0.1 embeddings (uniform: per-replica
    jitter keeps replicas near their original; hot: 60% of replicas
    are micro-jitters of centroid 3's vector), commits stored IVF+PQ
    and LSH indexes for both, and measures per probe:

    * assignment histogram (max cell / mean cell),
    * files admitted + rows scanned for the probed cells,
    * LSH candidate volume for a probe inside the celebrity mass,
    * search wall-clock hot vs uniform.

    Escape hatch (named in SCALE.md §17): per-cell SUB-SPLIT on
    admission count — when one cell's row share crosses a threshold
    (observable from the same footer stats the routing reads), re-fit
    sub-centroids for that cell only (a local k-means over one cell's
    rows) or, cheaper, z-order-compact the cell across (centroid_id,
    vec_id) into multiple files so the intra-cell scan parallelizes;
    candidate caps (the MAX_SHINGLE_DF pattern) bound the ADC stage.
    """
    import time as _t

    from pyspark.sql import functions as F

    from setup_harvest_action_spark.functions.ann_index import (
        _ivf_assign_path,
        _ivfpq_codes_path,
        ivf_index_build,
        ivfpq_index_build,
        ivfpq_search,
        lsh_index_build,
        lsh_index_search,
    )
    from setup_harvest_action_spark.functions.similarity import (
        IVF_CENTROIDS,
        _as_double,
    )
    from setup_harvest_action_spark.session import get_spark
    from setup_harvest_action_spark.sources.manifest_sink import (
        read_manifest,
        scan_manifest,
        select_files,
    )

    spark = get_spark("ann_skew_probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet(os.path.join(SRC, "embeddings.parquet")).select(
        "vec_id", _as_double().alias("v")
    )
    n_base = base.count()
    hot_cent = 3  # the celebrity cell; centroids are vec_id < IVF_CENTROIDS
    magnet = base.filter(F.col("vec_id") == hot_cent).first()["v"]
    mag_lit = F.array(*[F.lit(float(c)) for c in magnet])

    def corpus(hot: bool):
        """4x replicas with fresh ids; in hot mode 60% of REPLICA rows
        collapse onto micro-jitters of the magnet vector (originals —
        including the centroid-defining first rows — stay put)."""
        reps = []
        for i in range(1, 4):
            r = base.select(
                (F.col("vec_id") + i * n_base).alias("vec_id"),
                F.transform(
                    F.col("v"), lambda x, j: x + F.lit(0.0007 * i)
                ).alias("v"),
            )
            if hot:
                jitter = (
                    F.pmod(
                        F.xxhash64(F.col("vec_id")), F.lit(1000)
                    ).cast("double")
                    / 1e6
                )
                r = r.select(
                    "vec_id",
                    F.when(
                        F.col("vec_id") % 5 < 4,  # 80% of replicas = 60% of total
                        F.transform(mag_lit, lambda x, j: x + jitter),
                    )
                    .otherwise(F.col("v"))
                    .alias("v"),
                )
            reps.append(r)
        out = base
        for r in reps:
            out = out.unionByName(r)
        return out

    cases = (("uniform", False), ("hot-centroid", True))
    if "--hot-only" in sys.argv:  # iterate on the refit path quickly
        cases = (("hot-centroid", True),)
    for label, hot in cases:
        vecs = corpus(hot)
        root = os.path.join(ANN_DST, label)
        shutil.rmtree(root, ignore_errors=True)
        ivf = os.path.join(root, "ivf")
        ivfpq = os.path.join(root, "ivfpq")
        lsh = os.path.join(root, "lsh")
        ivf_index_build(spark, vecs, ivf, IVF_CENTROIDS)
        ivfpq_index_build(
            spark,
            vecs.select("vec_id", F.col("v").alias("e")),
            ivfpq,
            IVF_CENTROIDS,
        )
        lsh_index_build(spark, vecs, lsh)

        hist = {
            r["centroid_id"]: r["n"]
            for r in scan_manifest(spark, _ivf_assign_path(ivf))
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        mx = max(hist.values())
        mean = sum(hist.values()) / len(hist)
        m = read_manifest(_ivfpq_codes_path(ivfpq))
        rows_hot = hist.get(hot_cent, 0)
        files_hot = len(select_files(m, [("centroid_id", "=", hot_cent)]))
        cold = min(hist, key=hist.get)
        files_cold = len(select_files(m, [("centroid_id", "=", cold)]))
        print(
            f"{label}: cells max={mx} mean={mean:.0f} "
            f"(max/mean {mx / mean:.1f}x); probe cell {hot_cent}: "
            f"{rows_hot} rows / {files_hot} files admitted; "
            f"cold cell {cold}: {hist[cold]} rows / {files_cold} files",
            flush=True,
        )

        probe = vecs.filter(F.col("vec_id") == n_base + hot_cent).select(
            F.col("v").alias("q")
        )
        t0 = _t.time()
        ivfpq_search(
            spark, ivfpq, probe,
            vecs.select("vec_id", F.col("v").alias("e")),
            nprobe=2, n_cand=200, top_k=10,
        ).write.format("noop").mode("overwrite").save()
        t_pq = _t.time() - t0
        t0 = _t.time()
        res = lsh_index_search(spark, lsh, vecs, 5, 10)
        n_lsh = res.count()
        # candidate volume = the pre-top-k join size; re-derive it
        from setup_harvest_action_spark.functions.ann_index import (
            _lsh_codes_path,
        )

        codes = scan_manifest(spark, _lsh_codes_path(lsh))
        qc = codes.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "table_id", "code"
        )
        n_cand = (
            codes.join(F.broadcast(qc), ["table_id", "code"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id")
            .distinct()
            .count()
        )
        t_lsh = _t.time() - t0
        print(
            f"{label}: ivfpq_search(hot probe) {t_pq:.1f}s; "
            f"lsh candidates {n_cand} ({n_lsh} results) {t_lsh:.1f}s",
            flush=True,
        )

        if hot:
            # Celebrity-bucket escape (r14): cap per-bucket candidate
            # admission (deterministic by vec_id) and measure candidate
            # volume + result overlap vs uncapped.
            res_cap = lsh_index_search(spark, lsh, vecs, 5, 10, max_bucket=500)
            t0 = _t.time()
            capped_rows = res_cap.collect()
            t_cap = _t.time() - t0
            uncapped_rows = res.collect()
            overlap = len(
                {(r["query_id"], r["neighbor_id"]) for r in capped_rows}
                & {(r["query_id"], r["neighbor_id"]) for r in uncapped_rows}
            )
            qc2 = codes.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("query_id"), "table_id", "code"
            )
            from pyspark.sql import Window as _W

            wb = _W.partitionBy("query_id", "table_id", "code").orderBy(
                "vec_id"
            )
            n_cand_cap = (
                codes.join(F.broadcast(qc2), ["table_id", "code"])
                .filter(F.col("vec_id") != F.col("query_id"))
                .withColumn("__bn", F.row_number().over(wb))
                .filter(F.col("__bn") <= 500)
                .select("query_id", "vec_id")
                .distinct()
                .count()
            )
            print(
                f"{label} lsh max_bucket=500: candidates "
                f"{n_cand} -> {n_cand_cap}; top-10 overlap "
                f"{overlap}/{len(uncapped_rows)}; search {t_cap:.1f}s",
                flush=True,
            )

            # ESCAPE HATCH, measured: per-cell SUB-SPLIT — re-cluster
            # the codes table on (centroid_id, vec_id) across more
            # parts, so the hot cell spans several files (each footer
            # still centroid-pure → admission stays cell-pruned) and
            # the intra-cell scan parallelizes instead of landing on
            # one giant file/task.
            from setup_harvest_action_spark.sources.manifest_sink import (
                auto_compact,
            )

            auto_compact(
                spark,
                _ivfpq_codes_path(ivfpq),
                small_bytes=1 << 30,
                n_parts=16,
                zorder_by=["centroid_id", "vec_id"],
            )
            m2 = read_manifest(_ivfpq_codes_path(ivfpq))
            files_hot2 = len(
                select_files(m2, [("centroid_id", "=", hot_cent)])
            )
            files_cold2 = len(select_files(m2, [("centroid_id", "=", cold)]))
            t0 = _t.time()
            ivfpq_search(
                spark, ivfpq, probe,
                vecs.select("vec_id", F.col("v").alias("e")),
                nprobe=2, n_cand=200, top_k=10,
            ).write.format("noop").mode("overwrite").save()
            print(
                f"{label} after z-order sub-split compact: hot cell "
                f"{files_hot2} files (cold {files_cold2}) — intra-cell "
                f"scan parallelism {files_hot2}x; search "
                f"{_t.time() - t0:.1f}s",
                flush=True,
            )
            # purer variant: LEXICOGRAPHIC range sub-split on
            # (centroid_id, vec_id) — files stay centroid-pure except
            # at boundaries, so the hot cell parallelizes while cold
            # cells keep 1-file admission
            codes_df = scan_manifest(spark, _ivfpq_codes_path(ivfpq))
            (
                codes_df.repartitionByRange(16, "centroid_id", "vec_id")
                .sortWithinPartitions("centroid_id", "vec_id")
                .write.format("manifest_parquet")
                .mode("overwrite")
                .save(_ivfpq_codes_path(ivfpq))
            )
            m3 = read_manifest(_ivfpq_codes_path(ivfpq))
            files_hot3 = len(
                select_files(m3, [("centroid_id", "=", hot_cent)])
            )
            files_cold3 = len(select_files(m3, [("centroid_id", "=", cold)]))
            t0 = _t.time()
            ivfpq_search(
                spark, ivfpq, probe,
                vecs.select("vec_id", F.col("v").alias("e")),
                nprobe=2, n_cand=200, top_k=10,
            ).write.format("noop").mode("overwrite").save()
            print(
                f"{label} after range sub-split: hot cell "
                f"{files_hot3} files (cold {files_cold3}); search "
                f"{_t.time() - t0:.1f}s",
                flush=True,
            )

            # STRUCTURAL FIX, measured (r14): LOCAL RE-FIT of the
            # celebrity cell — k-means over THAT cell's members only
            # (reconstructed from their own PQ codes: zero corpus
            # reads), sub-centroids committed with parent lineage,
            # ONLY the cell's files rewritten, routing two-level.
            # Expected: the probe lands on the nearest CHILD and
            # admission returns from the cell's whole mass (~5k rows)
            # toward the uniform ~1/n_centroids (~533).
            from setup_harvest_action_spark.functions.ann_index import (
                ivfpq_cell_refit,
                ivfpq_cell_shares,
            )
            from setup_harvest_action_spark.functions.similarity import (
                cosine,
            )

            # The celebrity mass here is NEAR-DUPLICATE (micro-jitter
            # below the PQ quantization step), so the index-only
            # reconstruction fit cannot spread it (measured: children
            # [4801, 60, ...] — a quantization point-mass).  This is
            # exactly the escalation case the API's ``emb`` parameter
            # exists for: a RAW-vector refit (O(cell) pruned corpus
            # fetch) sees the sub-quantization structure.
            t0 = _t.time()
            refit = ivfpq_cell_refit(
                spark, ivfpq, hot_cent, n_sub=8,
                emb=vecs.select("vec_id", F.col("v").alias("e")),
            )
            t_refit = _t.time() - t0
            codes_df = scan_manifest(spark, _ivfpq_codes_path(ivfpq))
            hist2 = {
                r["centroid_id"]: r["n"]
                for r in codes_df.groupBy("centroid_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            kid_rows = {k: hist2.get(k, 0) for k in refit["sub_ids"]}
            mx2 = max(hist2.values())
            mean2 = sum(hist2.values()) / len(hist2)
            # which child does the hot probe actually admit?
            from setup_harvest_action_spark.functions.ann_index import (
                _ivf_centroids_path,
            )

            cents2 = scan_manifest(spark, _ivf_centroids_path(ivfpq))
            nearest_kid = (
                cents2.filter(F.col("parent_id") == hot_cent)
                .crossJoin(F.broadcast(probe))
                .select(
                    "centroid_id",
                    (-cosine(F.col("cv"), F.col("q"))).alias("neg"),
                )
                .orderBy("neg", "centroid_id")
                .first()["centroid_id"]
            )
            m4 = read_manifest(_ivfpq_codes_path(ivfpq))
            files_kid = len(
                select_files(m4, [("centroid_id", "=", int(nearest_kid))])
            )
            t0 = _t.time()
            ivfpq_search(
                spark, ivfpq, probe,
                vecs.select("vec_id", F.col("v").alias("e")),
                nprobe=2, n_cand=200, top_k=10, sub_nprobe=1,
            ).write.format("noop").mode("overwrite").save()
            t_search = _t.time() - t0
            shares2 = ivfpq_cell_shares(ivfpq)
            print(
                f"{label} after LOCAL RE-FIT of cell {hot_cent} "
                f"({refit['files_rewritten']} files rewritten / "
                f"{refit['files_kept']} kept byte-identical; "
                f"re-fit {t_refit:.1f}s): children rows "
                f"{sorted(kid_rows.values(), reverse=True)}; "
                f"table max/mean {mx2 / mean2:.1f}x; probed child "
                f"{nearest_kid}: {hist2.get(nearest_kid, 0)} rows / "
                f"{files_kid} files admitted (sub_nprobe=1); "
                f"search {t_search:.1f}s; stats-trigger shares "
                f"(top3): "
                f"{sorted(shares2.items(), key=lambda kv: -kv[1])[:3]}",
                flush=True,
            )


def run_ingest_probe() -> None:
    """VOLUME probe for the r14 crawl-ingest family (``--ingest``):
    the family's 100 TB claim is "map-only Arrow-batched ⇒ linear in
    corpus bytes" — this measures it.  Runs the full per-document
    funnel (synthesize crawl page → WARC-wrap/parse roundtrip →
    boilerplate removal → md5 + token count, plus the codegen'd URL
    canonicalization) over ALL documents at sf0.1 (5k docs) and at
    the 10× fixture (50k docs, same text lengths), uncapped — the
    catalog queries cap doc_id for gate runtime, the probe does not.
    Pass = wall-clock ratio ~10× (±ramp-up amortization), proving no
    super-linear stage hides in the chain.  Numbers land in
    SCALE.md §18."""
    import time as _t

    import pandas as pd
    from pyspark.sql import functions as F

    from setup_harvest_action_spark.functions.html_extract import (
        main_text,
        synthesize_page,
    )
    from setup_harvest_action_spark.functions.urls import canonicalize_url
    from setup_harvest_action_spark.session import get_spark
    from setup_harvest_action_spark.sources.warc import (
        encode_warc,
        parse_warc,
    )

    if not os.path.isdir(DST):
        generate()
    spark = get_spark("ingest_probe")
    spark.sparkContext.setLogLevel("ERROR")

    def funnel(batches):
        import hashlib

        for pdf in batches:
            pages = [
                (f"https://corpus.example/doc/{int(d)}",
                 synthesize_page(int(d), t))
                for d, t in zip(pdf["doc_id"], pdf["text"])
            ]
            out = {"doc_id": [], "main_md5": [], "n_tokens": []}
            # WARC-wrap in ~20-page files, parse back, extract
            for i in range(0, len(pages), 20):
                blob = encode_warc(pages[i : i + 20], gzip_members=True)
                for rec in parse_warc(blob):
                    if rec["type"] != "response":
                        continue
                    text = main_text(rec["http_body"].decode())
                    out["doc_id"].append(
                        int(rec["uri"].rsplit("/", 1)[1])
                    )
                    out["main_md5"].append(
                        hashlib.md5(text.encode()).hexdigest()
                    )
                    out["n_tokens"].append(len(text.split()))
            yield pd.DataFrame(out)

    for label, src in (("1x sf0.1", SRC), ("10x", DST)):
        docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
        n = docs.count()
        pipe = (
            docs.select("doc_id", "text")
            .repartition(32)
            .mapInPandas(
                funnel, "doc_id long, main_md5 string, n_tokens int"
            )
        )
        # warm-up pass: Python-worker spin-up and Arrow init dominate
        # at 5k docs (measured 4.0s cold vs 0.4s warm) — the probe's
        # claim is about steady-state per-doc cost, so time run 2
        pipe.write.format("noop").mode("overwrite").save()
        t0 = _t.time()
        pipe.write.format("noop").mode("overwrite").save()
        t_funnel = _t.time() - t0
        messy = F.concat(
            F.lit("HTTP://WWW.Example.COM:80/Articles/"),
            F.col("doc_id").cast("string"),
            F.lit("?z=1&a=2#frag"),
        )
        cano = docs.select(canonicalize_url(messy).alias("u"))
        cano.write.format("noop").mode("overwrite").save()  # warm-up
        t0 = _t.time()
        cano.write.format("noop").mode("overwrite").save()
        t_canon = _t.time() - t0

        # r15 stages: the charset leg (encode in rotating legacy
        # charsets → WHATWG sniff → codecs decode → extraction) and
        # the outlink leg (extract_links → RFC 3986 resolve →
        # canonicalize), both map-only claims
        def charset_leg(batches):
            import hashlib

            from setup_harvest_action_spark.functions.charset import (
                CHARSET_VARIANTS,
                decode_bytes,
                encode_crawl_page,
            )

            for pdf in batches:
                out = {"doc_id": [], "md5": []}
                for d, t in zip(pdf["doc_id"], pdf["text"]):
                    d = int(d)
                    marker = CHARSET_VARIANTS[d % len(CHARSET_VARIANTS)][0]
                    body, ctype = encode_crawl_page(
                        d, synthesize_page(d, t + " " + marker)
                    )
                    text, _c, _s = decode_bytes(body, ctype)
                    out["doc_id"].append(d)
                    out["md5"].append(
                        hashlib.md5(main_text(text).encode()).hexdigest()
                    )
                yield pd.DataFrame(out)

        def outlink_leg(batches):
            from setup_harvest_action_spark.functions.html_extract import (
                extract_links,
            )
            from setup_harvest_action_spark.functions.urls import (
                resolve_reference,
            )
            from setup_harvest_action_spark.functions.webgraph import (
                page_url,
                synthesize_crawl_page,
            )

            for pdf in batches:
                src, dst = [], []
                for d, t in zip(pdf["doc_id"], pdf["text"]):
                    d = int(d)
                    base = page_url(d)
                    for ref in extract_links(synthesize_crawl_page(d, t)):
                        src.append(base)
                        dst.append(resolve_reference(base, ref))
                yield pd.DataFrame({"src": src, "dst": dst})

        def wet_leg(batches):
            # r16: the OUTPUT leg — extract → WET conversion records
            # (.warc.wet.gz) → parse back; write+read of the container
            # downstream consumers actually ingest
            import hashlib

            from setup_harvest_action_spark.sources.warc import (
                encode_wet,
            )

            for pdf in batches:
                entries = [
                    (
                        f"https://corpus.example/doc/{int(d)}",
                        main_text(synthesize_page(int(d), t)),
                    )
                    for d, t in zip(pdf["doc_id"], pdf["text"])
                ]
                out = {"doc_id": [], "md5": []}
                for i in range(0, len(entries), 20):
                    blob = encode_wet(entries[i : i + 20])
                    for rec in parse_warc(blob):
                        if rec["type"] != "conversion":
                            continue
                        out["doc_id"].append(
                            int(rec["uri"].rsplit("/", 1)[1])
                        )
                        out["md5"].append(
                            hashlib.md5(rec["payload"]).hexdigest()
                        )
                yield pd.DataFrame(out)

        t_leg = {}
        for leg_name, fn, schema in (
            ("charset", charset_leg, "doc_id long, md5 string"),
            ("outlinks", outlink_leg, "src string, dst string"),
            ("wet", wet_leg, "doc_id long, md5 string"),
        ):
            leg = (
                docs.select("doc_id", "text")
                .repartition(32)
                .mapInPandas(fn, schema)
            )
            if leg_name == "outlinks":
                leg = leg.select(
                    canonicalize_url(F.col("src")).alias("src"),
                    canonicalize_url(F.col("dst")).alias("dst"),
                )
            leg.write.format("noop").mode("overwrite").save()  # warm-up
            t0 = _t.time()
            leg.write.format("noop").mode("overwrite").save()
            t_leg[leg_name] = _t.time() - t0
        print(
            f"ingest {label}: {n} docs — funnel {t_funnel:.1f}s, "
            f"url-canonicalize {t_canon:.1f}s, "
            f"charset {t_leg['charset']:.1f}s, "
            f"outlinks {t_leg['outlinks']:.1f}s, "
            f"wet {t_leg['wet']:.1f}s",
            flush=True,
        )


def main() -> None:
    argv = [a for a in sys.argv[1:] if a not in ("--regen", "--hot", "--ann", "--hot-only", "--ingest")]
    if "--ingest" in sys.argv:
        run_ingest_probe()
        return
    if "--ann" in sys.argv:
        run_ann_probe()
        return
    if "--hot" in sys.argv:
        if "--regen" in sys.argv or not os.path.isdir(HOT_DST):
            generate_hot()
        run_probes(argv or HOT_PROBES, HOT_DST)
        return
    if "--regen" in sys.argv or not os.path.isdir(DST):
        generate()
    run_probes(argv or PROBES, DST)


def run_probes(names: list[str], sf_dir: str) -> None:
    from setup_harvest_action_spark.catalog import load_catalog
    from setup_harvest_action_spark.session import get_spark

    spark = get_spark("skew_probe")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = load_catalog()
    for name in names:
        t0 = time.time()
        try:
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            status = "ok"
        except Exception as exc:  # record the failure, keep probing
            status = f"FAIL {type(exc).__name__}: {exc}"[:120]
        print(f"{name}: {time.time() - t0:.1f}s {status}", flush=True)


if __name__ == "__main__":
    main()
