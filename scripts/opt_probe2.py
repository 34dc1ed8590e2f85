#!/usr/bin/env python
"""Round-11 optimization probe, batch 2: interleaved A/B of the candidate
edits (guide §1 protocol: warm session, noop sink, steady-state min,
variants alternated so host weather hits both).

Cases (A = committed behavior, B = candidate edit):
  entity_ckpt   — resolve_records with dirty localCheckpoint'ed once
  nll_ckpt      — doc_unigram_nll with the tf frame checkpointed once
  q8_nofan      — market_share_q8 with fan-out off on broadcast-built dims
  q18_nofan     — large_orders_q18 with fan-out off on customer
  topk_nofan    — shipping_priority_topk with fan-out off on orders+customer
  q9_nofan      — product_type_profit_q9 with fan-out off on orders
  tri_shj       — triangle census with SHUFFLE_HASH on the adj_v side

Fan-out variants toggle catalog._FANOUT_CACHE per (path, parallelism) —
behaviorally identical to passing fan_out=False at the call site for
queries that scan the table once.

Usage: python scripts/opt_probe2.py <case> [case ...]   (or 'all')
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUNDS = int(os.environ.get("PROBE_ROUNDS", "4"))


def main() -> None:
    from cooler_mapreduce_spark.registry import load_all
    from cooler_mapreduce_spark.session import get_session
    from cooler_mapreduce_spark.sources import catalog
    from cooler_mapreduce_spark.sources.catalog import TABLES, table

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)
    spark = get_session("opt-probe2", cpus=cpus)
    specs = load_all()
    for t in TABLES:
        table(spark, SF_DIR, t).count()
    spark.sparkContext.parallelize(range(cpus * 2), cpus).map(lambda x: x).count()
    hof = spark.range(0, 20000, 1, cpus).selectExpr(
        "aggregate(transform(sequence(0, 63), i -> id * i % 2147483647),"
        " CAST(0 AS BIGINT), (a, x) -> a + x) AS s"
    )
    for _ in range(6):
        hof.groupBy().sum("s").count()

    def fan(tbl: str, val: bool) -> None:
        path = f"{SF_DIR}/{tbl}.parquet"
        catalog._FANOUT_CACHE[(path, cpus)] = (val, os.path.getsize(path))

    def fan_reset() -> None:
        catalog._FANOUT_CACHE.clear()

    # ---- entity: dirty checkpoint --------------------------------------
    def build_dirty():
        c = table(spark, SF_DIR, "customer", fan_out=False)
        mx = c.agg(F.max("c_custkey").alias("m"))
        cm = c.crossJoin(F.broadcast(mx))
        return (
            cm.filter(F.col("c_custkey") % 3 == 0)
            .select(
                (F.col("c_custkey") + F.col("m")).alias("rec_id"),
                F.concat(
                    F.expr("substr(c_name, 1, length(c_name) - 1)"), F.lit("X")
                ).alias("name"),
                F.col("c_nationkey").alias("nation"),
                (F.col("c_acctbal") + 0.5).alias("bal"),
            )
            .unionAll(
                cm.filter(
                    (F.col("c_custkey") % 3 != 0) & (F.col("c_custkey") % 7 == 0)
                ).select(
                    (F.col("c_custkey") + 2 * F.col("m")).alias("rec_id"),
                    F.col("c_name").alias("name"),
                    F.col("c_nationkey").alias("nation"),
                    F.col("c_acctbal").alias("bal"),
                )
            )
            .unionAll(
                cm.filter(F.col("c_custkey") % 11 == 0).select(
                    (F.col("c_custkey") + 3 * F.col("m")).alias("rec_id"),
                    F.concat(
                        F.lit("Customer#"),
                        F.lpad((F.col("c_custkey") + F.col("m")).cast("string"), 9, "0"),
                    ).alias("name"),
                    F.col("c_nationkey").alias("nation"),
                    F.col("c_acctbal").alias("bal"),
                )
            )
        )

    def entity_a():
        return specs["entity_resolution_customers"].fn(spark, SF_DIR)

    def entity_b():
        from cooler_mapreduce_spark.operators.entity import resolve_records

        c = table(spark, SF_DIR, "customer", fan_out=False)
        dirty = build_dirty().localCheckpoint(eager=True)
        master = c.select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        return resolve_records(dirty, master)

    # ---- nll: tf checkpoint --------------------------------------------
    def nll_a():
        return specs["doc_unigram_nll"].fn(spark, SF_DIR)

    def nll_b():
        d = table(spark, SF_DIR, "documents")
        tf = (
            d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
            .filter(F.col("term") != "")
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
            .localCheckpoint(eager=True)
        )
        pt = tf.groupBy("term").agg(F.sum("tf").alias("stf"))
        tot = pt.agg(F.sum("stf").alias("t"))
        lp = pt.crossJoin(F.broadcast(tot)).select(
            "term",
            F.round(F.log(F.col("stf").cast("double") / F.col("t")), 9).alias("lp"),
        )
        scored = tf.join(lp, "term")
        per_doc = scored.groupBy("doc_id").agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.round(
                -F.sum(
                    F.col("tf").cast("decimal(18,0)")
                    * F.col("lp").cast("decimal(20,9)")
                ).cast("double")
                / F.sum("tf"),
                6,
            ).alias("nll"),
        )
        return per_doc.orderBy(F.desc("nll"), F.asc("doc_id")).limit(100)

    # ---- fan-out off variants ------------------------------------------
    def mk_fan_pair(qname, tables):
        def a():
            fan_reset()
            return specs[qname].fn(spark, SF_DIR)

        def b():
            fan_reset()
            for t in tables:
                fan(t, False)
            df = specs[qname].fn(spark, SF_DIR)
            fan_reset()
            return df

        return a, b

    # ---- triangle SHJ ---------------------------------------------------
    def tri_a():
        return specs["triangle_count_copurchase"].fn(spark, SF_DIR)

    def tri_b():
        from cooler_mapreduce_spark.operators.graph import _copurchase_graph

        edges, deg, oriented = _copurchase_graph(spark, SF_DIR)
        adj = oriented.groupBy("src").agg(
            F.sort_array(F.collect_list("dst")).alias("nbrs")
        )
        eu = adj.select(
            "src", F.explode("nbrs").alias("dst"), F.col("nbrs").alias("nbrs_u")
        )
        adj_v = adj.select(
            F.col("src").alias("jv"), F.col("nbrs").alias("nbrs_v")
        ).hint("shuffle_hash")
        tri = (
            eu.join(adj_v, F.col("dst") == F.col("jv"))
            .select(F.size(F.array_intersect("nbrs_u", "nbrs_v")).alias("t"))
            .agg(F.coalesce(F.sum("t"), F.lit(0).cast("bigint")).alias("triangles"))
        )
        summary = edges.agg(F.count("*").alias("edges"))
        wedges = deg.agg(
            (F.sum(F.col("d") * (F.col("d") - 1)) / F.lit(2)).alias("wedges")
        )
        return (
            summary.crossJoin(F.broadcast(wedges)).crossJoin(F.broadcast(tri))
            .select("edges", "wedges", "triangles")
        )

    cases = {
        "entity_ckpt": (entity_a, entity_b),
        "nll_ckpt": (nll_a, nll_b),
        "q8_nofan": mk_fan_pair("market_share_q8", ["part", "orders", "customer", "supplier"]),
        "q18_nofan": mk_fan_pair("large_orders_q18", ["customer"]),
        "topk_nofan": mk_fan_pair("shipping_priority_topk", ["orders", "customer"]),
        "q9_nofan": mk_fan_pair("product_type_profit_q9", ["orders"]),
        "tri_shj": (tri_a, tri_b),
    }

    want = sys.argv[1:] or ["all"]
    names = list(cases) if want == ["all"] else want
    for name in names:
        fa, fb = cases[name]
        res = {"A": [], "B": []}
        hashes = {}
        for rnd in range(ROUNDS):
            for tag, fn in (("A", fa), ("B", fb)):
                t0 = time.perf_counter()
                df = fn()
                df.write.format("noop").mode("overwrite").save()
                res[tag].append(round(time.perf_counter() - t0, 3))
                if rnd == ROUNDS - 1:
                    hashes[tag] = sorted(tuple(r) for r in df.collect())
                del df
                import gc

                gc.collect()
        same = hashes["A"] == hashes["B"]
        print(
            f"# {name}: A_min={min(res['A']):.3f} B_min={min(res['B']):.3f} "
            f"A={res['A']} B={res['B']} rows_equal={same}",
            flush=True,
        )
        if not same:
            print(f"!! {name}: VARIANT CHANGES RESULTS", flush=True)


if __name__ == "__main__":
    main()
