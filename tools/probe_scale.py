"""Reproducible 10× scale probes — the evidence behind README's
"measured scaling, not just asserted" section.

Builds 10×-replicated copies of the sf0.1 testdata in /tmp (DuckDB
COPY … CROSS JOIN range(10); documents get shingle-breaking salt so
the corpus is genuinely distinct, events/facts get key offsets) and
times one representative operator per family at 1× and 10×:

    python tools/probe_scale.py [--families dedup,events,facts,...]

Probes found two real scale hazards in round 2 (both fixed): the
MinHash-LSH hot-bucket cap admitting quadratic candidate volume, and
O(diameter) connected-components divergence on chain graphs.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.1"
OUT = "/tmp/dde_probe10"  # set by --factor (dde_probe<N>)


def build_datasets(factor: int = 10) -> None:
    import duckdb

    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    jobs = {
        "documents.parquet": """
            SELECT (r.range * 5000 + doc_id)::BIGINT AS doc_id,
                   replace(text, ' ', ' r' || CAST(r.range AS VARCHAR) || ' ')
                     AS text,
                   lang, source, n_chars
            FROM '{sf}/documents.parquet' CROSS JOIN range({factor}) r""",
        "events.parquet": """
            SELECT (r.range * 100000 + event_id)::BIGINT AS event_id,
                   ts + to_microseconds((r.range * 37)::BIGINT) AS ts,
                   user_id + r.range * 150 AS user_id,
                   event_type, value, props
            FROM '{sf}/events.parquet' CROSS JOIN range({factor}) r""",
        "lineitem.parquet": """
            SELECT l_orderkey + r.range * 10000000 AS l_orderkey, l_partkey,
                   l_suppkey, l_linenumber, l_quantity, l_extendedprice,
                   l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM '{sf}/lineitem.parquet' CROSS JOIN range({factor}) r""",
        "embeddings.parquet": """
            SELECT (r.range * 2000 + vec_id)::BIGINT AS vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> x + (r.range * 0.013)) AS embedding,
                   label
            FROM '{sf}/embeddings.parquet' CROSS JOIN range({factor}) r""",
        # Per-doc-unique interleave salt for the set-similarity
        # probe. Exact all-pairs similarity is OUTPUT-bound: any 10x
        # replication of a small-vocabulary corpus (replica salt,
        # tail salt, plain copy) multiplies the TRUE pair set
        # quadratically — 10 near-copies of every doc is C(10,2)
        # genuine pairs each — so wall time there measures the answer
        # size, not the algorithm. A salt unique per doc makes every
        # bigram doc-private (zero true pairs), which isolates the
        # PIPELINE cost (tokenize, global ranking, prefix join,
        # candidate machinery) whose scaling is the thing the probe
        # can meaningfully check.
        "documents_distinct.parquet": """
            SELECT (r.range * 5000 + doc_id)::BIGINT AS doc_id,
                   replace(text, ' ',
                           ' u' || CAST(r.range * 5000 + doc_id AS VARCHAR)
                                || ' ') AS text,
                   lang, source, n_chars
            FROM '{sf}/documents.parquet' CROSS JOIN range({factor}) r""",
        "orders.parquet": """
            SELECT o_orderkey + r.range * 10000000 AS o_orderkey,
                   o_custkey + r.range * 15000 AS o_custkey,
                   o_orderstatus, o_totalprice,
                   o_orderdate + to_microseconds((r.range * 41)::BIGINT)
                     AS o_orderdate,
                   o_orderpriority
            FROM '{sf}/orders.parquet' CROSS JOIN range({factor}) r""",
    }
    for fname, sql in jobs.items():
        dst = os.path.join(OUT, fname)
        if not os.path.exists(dst):
            con.execute(
                f"COPY ({sql.format(sf=SF, factor=factor)}) TO '{dst}' (FORMAT PARQUET)"
            )
    con.close()


def timed(label: str, fn, runs: int = 2) -> None:
    fn()  # warm
    best = min(
        (lambda t0=time.perf_counter(): (fn(), time.perf_counter() - t0)[1])()
        for _ in range(runs)
    )
    print(f"{label}: {best:.2f}s", flush=True)


# Queries whose inputs all exist in the 10x replica set AND whose
# DuckDB oracle stays tractable at that size (no all-pairs oracles:
# dedup_simhash_pairs* is definitionally quadratic on the oracle side,
# so it is verified at oracle scale by selfcheck instead).
VERIFY_QUERIES = [
    # dedup family
    "dedup_exact", "dedup_minhash_lsh", "pipeline_dedup_quality_filter",
    # ANN / embeddings family
    "ann_lsh_buckets", "ann_bruteforce_topk", "rag_retrieval_topk",
    "semantic_dedup_seeded", "dedup_embedding_cosine_banded",
    "embedding_banded_recall",
    # asof / events family
    "join_asof", "join_asof_forward", "sessionize_window_sql",
    "events_tumbling_window",
    # text / retrieval / facts
    "bm25_retrieval_topk", "contamination_bloom", "text_quality",
    "tokens_per_lang_topk", "agg_pricing_summary", "window_rownum_latest",
    "multimodal_decode_info",
]


def verify() -> None:
    """10x-scale CORRECTNESS, not just timing: run the driver-style
    Spark-vs-DuckDB hash compare (tools/selfcheck.py) over the 10x
    replica tables for the dedup/ANN/asof families. Green hashes here
    mean the sub-quadratic plans return the same answers when the
    candidate structures (LSH bands, IVF cells, buckets) are 10x
    denser — the regime where a recall or cap bug would surface."""
    import subprocess

    rc = subprocess.call(
        [sys.executable, os.path.join(os.path.dirname(__file__), "selfcheck.py"),
         "--sf", OUT, *VERIFY_QUERIES]
    )
    sys.exit(rc)


def lsh_math() -> None:
    """Reproduce the banded-cosine infeasibility table cited in
    queries/pipeline13.py: at threshold s, hyperplane-LSH per-bit
    collision p(s) = 1 - acos(s)/pi; recall 0.95 needs T ~ 3/p1^b
    tables, and the background (s~0) admission is 1-(1-p0^b)^T. At
    s=0.3 the p1/p0 gap is so thin that <=10% background admission
    needs ~20 bits x ~91,000 tables — which is why the headline runs
    at a real near-dup threshold instead."""
    import math

    def p(s):
        return 1 - math.acos(s) / math.pi

    for s in (0.3, 0.8, 0.92):
        p1, p0 = p(s), p(0.0)
        print(f"threshold {s}: p1={p1:.4f} p0={p0:.4f} "
              f"rho={math.log(p1) / math.log(p0):.3f}")
        for b in (2, 4, 8, 12, 16, 20):
            T = math.ceil(3 / p1 ** b)
            bg = 1 - (1 - p0 ** b) ** T
            print(f"  b={b:2d} tables_for_recall95={T:6d} "
                  f"background_admit={bg:.4f}")


def verify_banded_subset(factor: int) -> None:
    """Hash-verified subset at ANY factor (the full banded oracle is a
    within-label self-join — ~2e9 pair evaluations at 100x, so DuckDB
    can't replay the whole thing): LSH bucket membership is
    per-vector-deterministic (literal planes), so collisions are
    pairwise — the banded pairs computed ON the factor-N corpus,
    restricted to replica-0 ids, must EXACTLY equal the 1x oracle's
    pairs. A recall/candidate bug that appears only under 100x bucket
    density would break this equality."""
    import duckdb
    from pyspark.sql import functions as F

    from duckdb_distributed_execution_spark.queries import all_queries
    from duckdb_distributed_execution_spark.queries.pipeline13 import (
        dedup_embedding_cosine_banded,
    )
    from duckdb_distributed_execution_spark.session import local_session

    reg = all_queries()
    spark = local_session(app_name="probe-scale-verify")
    t0 = time.perf_counter()
    big = dedup_embedding_cosine_banded(spark, OUT)
    base_id = (
        lambda c: F.when(c >= 10_000_000, c - 10_000_000).otherwise(c)
    )
    sub = big.filter(
        (base_id(F.col("id_a")) < 2000) & (base_id(F.col("id_b")) < 2000)
    )
    got = sorted((r.id_a, r.id_b, r.sim) for r in sub.collect())
    wall = time.perf_counter() - t0
    con = duckdb.connect()
    for t in ("embeddings",):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    exp = sorted(
        tuple(r)
        for r in con.execute(
            reg["dedup_embedding_cosine_banded"].oracle
        ).fetchall()
    )
    ok = got == exp
    print(
        f"banded_subset_verify @{os.path.basename(OUT)}: "
        f"{len(got)} pairs vs oracle {len(exp)} — "
        f"{'IDENTICAL' if ok else 'MISMATCH'} (spark wall {wall:.1f}s)"
    )
    sys.exit(0 if ok else 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--families",
        default="dedup,events,facts,embeddings,multimodal,pq,bloom,"
        "setsim,retrieval,sketch,triangle,quantile,banded,kcore,rrf,hll",
    )
    ap.add_argument(
        "--verify", action="store_true",
        help="hash-check Spark vs DuckDB at 10x instead of timing",
    )
    ap.add_argument(
        "--verify-banded", action="store_true",
        help="replica-0 subset hash-verify of the banded cosine dedup "
        "at --factor (oracle runs at 1x; see verify_banded_subset)",
    )
    ap.add_argument(
        "--factor", type=int, default=10,
        help="replication factor for the probe datasets (default 10)",
    )
    ap.add_argument(
        "--lsh-math", action="store_true",
        help="print the banded-cosine LSH feasibility table "
        "(no Spark, no data)",
    )
    ap.add_argument(
        "--data-dir", default=None,
        help="probe an EXISTING dataset dir (e.g. the organic sf1 from "
        "tools/gen_sf.py) instead of building a replica corpus — kills "
        "the Theta(factor^2)-by-replication caveat for dedup families",
    )
    ap.add_argument(
        "--tag", default=None,
        help="label for --data-dir timings (default: dir basename)",
    )
    args = ap.parse_args()
    fams = set(args.families.split(","))

    if args.lsh_math:
        lsh_math()
        return

    global OUT
    if args.data_dir:
        OUT = args.data_dir
    else:
        OUT = f"/tmp/dde_probe{args.factor}"
        build_datasets(args.factor)

    if args.verify_banded:
        verify_banded_subset(args.factor)
        return
    if args.verify:
        verify()
        return

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from duckdb_distributed_execution_spark.session import local_session

    spark = local_session(app_name="probe-scale")

    from duckdb_distributed_execution_spark.operators import dedup as D
    from duckdb_distributed_execution_spark.operators.asof import asof_join
    from duckdb_distributed_execution_spark.operators.multimodal import (
        extract_features,
    )
    from duckdb_distributed_execution_spark.operators.sessionize import (
        sessionize_window,
    )
    from duckdb_distributed_execution_spark.operators.similarity import ivf_assign
    from duckdb_distributed_execution_spark.sources import read_parquet_table

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out_tag = (
        args.tag or os.path.basename(OUT.rstrip("/"))
        if args.data_dir
        else f"{args.factor}x"
    )
    for base, tag in ((SF, "1x"), (OUT, out_tag)):
        if {"dedup", "minhash"} & fams:
            d = read_parquet_table(spark, f"{base}/documents.parquet")
            timed(
                f"minhash_lsh @{tag}",
                lambda d=d: noop(D.minhash_lsh_pairs(d, "doc_id", "text")),
            )
        if {"dedup", "simhash"} & fams:
            # NOTE: on the salted replica corpus simhash is
            # OUTPUT-bound at high factors (every base doc's replicas
            # differ by one token → Θ(factor²) true pairs per doc;
            # ~30M pairs at 100x). Probe it separately
            # (--families simhash) when you mean to pay that.
            d = read_parquet_table(spark, f"{base}/documents.parquet")
            timed(
                f"simhash_pairs60 @{tag}",
                lambda d=d: noop(
                    D.simhash_pairs(d, "doc_id", "text", max_hamming=3, bits=60)
                ),
            )
        if "events" in fams:
            ev = read_parquet_table(spark, f"{base}/events.parquet")
            clicks = ev.filter(F.col("event_type") == "click").select(
                "user_id", F.col("ts").alias("c_ts"),
                F.col("event_id").alias("click_id"),
            )
            purch = ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("p_ts"),
                F.col("event_id").alias("purchase_id"),
            )
            timed(
                f"asof_join @{tag}",
                lambda p=purch, c=clicks: noop(
                    asof_join(p, c, on="user_id", left_ts="p_ts", right_ts="c_ts")
                ),
            )
            timed(
                f"sessionize @{tag}",
                lambda ev=ev: noop(sessionize_window(ev, "user_id", "ts", 1800)),
            )
        if "facts" in fams:
            li = read_parquet_table(spark, f"{base}/lineitem.parquet")
            timed(
                f"q1_agg @{tag}",
                lambda li=li: noop(
                    li.groupBy("l_returnflag", "l_linestatus").agg(
                        F.count(F.lit(1)), F.sum("l_quantity")
                    )
                ),
            )
            w = Window.partitionBy("l_returnflag").orderBy(
                "l_orderkey", "l_linenumber"
            )
            timed(
                f"window_rownum @{tag}",
                lambda li=li: noop(
                    li.select("l_orderkey", F.row_number().over(w).alias("rn"))
                ),
            )
        if "embeddings" in fams:
            e = read_parquet_table(spark, f"{base}/embeddings.parquet")
            cents = e.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("cid"), "embedding"
            )
            timed(
                f"ivf_assign @{tag}",
                lambda e=e, c=cents: noop(ivf_assign(e, c)),
            )
        if "pq" in fams:
            from duckdb_distributed_execution_spark.operators.similarity import (
                pq_adc_topk,
                pq_encode,
                pq_subvectors,
            )

            e = read_parquet_table(spark, f"{base}/embeddings.parquet")
            wrank = Window.orderBy("vec_id")
            cbr = e.filter(F.col("vec_id") < 16).select(
                (F.row_number().over(wrank) - 1).cast("int").alias("code"),
                "embedding",
            )
            cb = pq_subvectors(cbr, "code", "embedding", 8, 8).select(
                F.col("__id").alias("code"), "sub", F.col("sv").alias("cv")
            )
            corpus = e.filter(F.col("vec_id") >= 16)
            qs = e.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 21))
            timed(
                f"pq_encode @{tag}",
                lambda c=corpus, cb=cb: noop(pq_encode(c, cb)),
            )
            timed(
                f"pq_adc_topk @{tag}",
                lambda c=corpus, q=qs, cb=cb: noop(
                    pq_adc_topk(pq_encode(c, cb), q, cb)
                ),
            )
        if "bloom" in fams:
            from duckdb_distributed_execution_spark.queries import REGISTRY
            import duckdb_distributed_execution_spark.queries.pipeline5  # noqa: F401

            timed(
                f"contamination_bloom @{tag}",
                lambda b=base: noop(
                    REGISTRY["contamination_bloom"].fn(spark, b)
                ),
            )
        if "setsim" in fams:
            # The salted twin isolates PIPELINE cost (see
            # build_datasets's documents_distinct comment); an organic
            # low-vocabulary corpus without it is candidate-bound by
            # construction — every token is a stop-token to the prefix
            # filter (measured: unsalted organic sf1 spilled >40 GB).
            fname = (
                "documents_distinct.parquet"
                if base != SF
                and os.path.exists(f"{base}/documents_distinct.parquet")
                else "documents.parquet"
            )
            d = read_parquet_table(spark, f"{base}/{fname}")
            timed(
                f"setsim_prefix_join @{tag}",
                lambda d=d: noop(
                    D.setsim_prefix_join(d, "doc_id", "text", threshold=0.5)
                ),
            )
        if {
            "retrieval", "sketch", "triangle", "quantile",
            "kcore", "rrf", "hll",
        } & fams:
            from duckdb_distributed_execution_spark.queries import all_queries

            reg = all_queries()
            for fam, qname in (
                ("retrieval", "bm25_retrieval_topk"),
                ("sketch", "cms_heavy_hitters"),
                ("triangle", "graph_triangle_count"),
                ("quantile", "winsorize_clamp"),
                # Co-presence graph construction densifies by design
                # under time-overlapped replication (like triangle):
                # the peel loop itself is O(rounds·E).
                ("kcore", "graph_kcore_users"),
                ("rrf", "rag_hybrid_rrf"),
                ("hll", "hll_distinct_sketch"),
            ):
                if fam in fams:
                    timed(
                        f"{qname} @{tag}",
                        lambda q=reg[qname], b=base: noop(q.fn(spark, b)),
                    )
        if "banded" in fams:
            from duckdb_distributed_execution_spark.queries.pipeline13 import (
                dedup_embedding_cosine_banded,
            )

            timed(
                f"banded_cosine_dedup @{tag}",
                lambda b=base: noop(dedup_embedding_cosine_banded(spark, b)),
            )
        if "multimodal" in fams:
            m = read_parquet_table(spark, f"{base}/documents.parquet").select(
                F.col("doc_id").alias("media_id"),
                F.col("text").cast("binary").alias("payload"),
            )
            timed(
                f"multimodal_features @{tag}",
                lambda m=m: noop(extract_features(m)),
            )
        if "substring" in fams:
            # Exact-substring span surgery (round 5): k-gram seeded,
            # output-bound on organic data (sf1-organic: 7.2 s for
            # 8,774 spans vs sf0.1's 7.5 s for 271 — flat). NOTE: on
            # the REPLICA corpora every doc has factor-1 verbatim
            # clones, so spans (and the match join) grow Θ(factor²)
            # by construction — probe this family against gen_sf.py's
            # organic data (--data-dir), not the replicas.
            d = read_parquet_table(spark, f"{base}/documents.parquet")
            timed(
                f"substring_cut @{tag}",
                lambda d=d: noop(D.substring_cut_spans(d)),
            )


if __name__ == "__main__":
    main()
