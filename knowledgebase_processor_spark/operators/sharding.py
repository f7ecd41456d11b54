"""Shard-assignment economics: consistent-hash migration cost and
salted-key load simulation (the two numbers behind this repo's own
partitioning claims: the north rule says 'salted keys for head-entity
skew' and 'range-partitioned writes' — these operators MEASURE what
those buy.  q236: growing a mod-hash layout from N to N+1 shards
moves ~N/(N+1) of all keys; a consistent-hash ring moves ~1/(N+1) —
the difference is the whole re-shard bill for a 100 TB table.  q237:
a hot key pins one reducer at the head-entity mass; salting by s
splits it s ways — the simulated max-reducer-load ratio is exactly
the wall-clock speedup AQE's skew split or kg_job's COREF_SALT buys).

Everything is portable-md5 integer arithmetic (split.py family):
vnode ring positions, key positions, reducer buckets — the oracles
replay every assignment bit-for-bit.

Scale shape: the ring is a literal (N*V rows, broadcast); q236 is a
key-projection + one broadcast-join argmin; q237 is two partial-agg
groupBys (key counts, then reducer loads).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F

RING_SPACE = 1 << 32


def _h32_python(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % RING_SPACE


def _h32_spark_sql(expr: str) -> str:
    return (f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10)"
            f" AS BIGINT) % {RING_SPACE}")


def _h32_duck_sql(expr: str) -> str:
    return (f"((('0x' || substr(md5({expr}), 1, 15))::BIGINT)"
            f" % {RING_SPACE})")


def ring_positions(n_shards: int, vnodes: int = 16) -> list:
    """[(shard, position)] — the consistent-hash ring literal."""
    return sorted(
        ((s, _h32_python(f"ring|s{s}|v{v}"))
         for s in range(n_shards) for v in range(vnodes)),
        key=lambda x: x[1])


def migration_cost(df: DataFrame, key_col: str, n_from: int, n_to: int,
                   vnodes: int = 16) -> DataFrame:
    """-> one row (n_keys, moved_ring, moved_ring_ppm, moved_mod,
    moved_mod_ppm): distinct keys whose shard changes when growing
    from ``n_from`` to ``n_to`` shards, under a consistent-hash ring
    vs naive mod-hash."""
    spark = df.sparkSession
    keys = (df.select(F.col(key_col).cast("string").alias("k"))
            .distinct()
            .withColumn("kp", F.expr(_h32_spark_sql("concat('key|', k)"))))

    def assign(n: int, out: str) -> DataFrame:
        ring = spark.createDataFrame(ring_positions(n, vnodes),
                                     "shard int, pos long")
        j = keys.crossJoin(F.broadcast(ring))
        # successor vnode (smallest pos >= kp); wrap to the global min
        best = (j.groupBy("k", "kp")
                .agg(F.min(F.when(F.col("pos") >= F.col("kp"),
                                  F.struct("pos", "shard")))
                     .alias("succ"),
                     F.min(F.struct("pos", "shard")).alias("wrap")))
        return best.select(
            "k", "kp",
            F.coalesce(F.col("succ.shard"), F.col("wrap.shard"))
            .alias(out))

    a = assign(n_from, "s_from").join(assign(n_to, "s_to")
                                      .drop("kp"), "k")
    return (a.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(F.col("s_from") != F.col("s_to"), 1).otherwise(0))
        .cast("long").alias("moved_ring"),
        F.sum(F.when(F.expr(f"kp % {n_from} <> kp % {n_to}"), 1)
              .otherwise(0)).cast("long").alias("moved_mod"))
        .selectExpr("n_keys", "moved_ring",
                    "moved_ring * 1000000 DIV n_keys AS moved_ring_ppm",
                    "moved_mod",
                    "moved_mod * 1000000 DIV n_keys AS moved_mod_ppm"))


def migration_oracle_sql(table: str, key_sql: str, n_from: int,
                         n_to: int, vnodes: int = 16) -> str:
    def ring_vals(n: int) -> str:
        return ", ".join(f"({s}, {p})"
                         for s, p in ring_positions(n, vnodes))

    kp = _h32_duck_sql("'key|' || k")
    return f"""
        WITH keys AS (SELECT DISTINCT CAST({key_sql} AS VARCHAR) AS k
                      FROM {table}),
        kpos AS (SELECT k, {kp} AS kp FROM keys),
        ring_a(shard, pos) AS (VALUES {ring_vals(n_from)}),
        ring_b(shard, pos) AS (VALUES {ring_vals(n_to)}),
        asg_a AS (SELECT kpos.k, kpos.kp,
                         COALESCE(
                           MIN(CASE WHEN pos >= kp THEN pos END),
                           MIN(pos)) AS win
                  FROM kpos CROSS JOIN ring_a GROUP BY kpos.k, kpos.kp),
        sa AS (SELECT asg_a.k, asg_a.kp, ring_a.shard AS s_from
               FROM asg_a JOIN ring_a ON ring_a.pos = asg_a.win),
        asg_b AS (SELECT kpos.k,
                         COALESCE(
                           MIN(CASE WHEN pos >= kp THEN pos END),
                           MIN(pos)) AS win
                  FROM kpos CROSS JOIN ring_b GROUP BY kpos.k),
        sb AS (SELECT asg_b.k, ring_b.shard AS s_to
               FROM asg_b JOIN ring_b ON ring_b.pos = asg_b.win),
        j AS (SELECT sa.k, sa.kp, s_from, s_to
              FROM sa JOIN sb ON sb.k = sa.k),
        agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                       CAST(SUM(CASE WHEN s_from <> s_to THEN 1
                                ELSE 0 END) AS BIGINT) AS moved_ring,
                       CAST(SUM(CASE WHEN kp % {n_from} <> kp % {n_to}
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS moved_mod
                FROM j)
        SELECT n_keys, moved_ring,
               CAST(moved_ring * 1000000 // n_keys AS BIGINT)
                   AS moved_ring_ppm,
               moved_mod,
               CAST(moved_mod * 1000000 // n_keys AS BIGINT)
                   AS moved_mod_ppm
        FROM agg"""


def salting_simulation(df: DataFrame, key_col: str, id_col: str,
                       n_reducers: int = 16,
                       salt: int = 8) -> DataFrame:
    """-> one row (n_rows, max_load_plain, max_load_salted,
    speedup_ppm): max reducer load under hash partitioning of the raw
    key vs the salted key — the measured payoff of kg_job's
    COREF_SALT / the LSH salting contract."""
    base = df.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(id_col).cast("string").alias("i"))
    plain = F.expr(_h32_spark_sql("concat('p|', k)")
                   + f" % {n_reducers}")
    salted = F.expr(
        _h32_spark_sql(f"concat('p|', k, '#', {_h32_spark_sql('i')}"
                       f" % {salt})") + f" % {n_reducers}")
    loads_p = (base.groupBy(plain.alias("r"))
               .agg(F.count(F.lit(1)).cast("long").alias("c"))
               .agg(F.max("c").cast("long").alias("max_load_plain"),
                    F.sum("c").cast("long").alias("n_rows")))
    loads_s = (base.groupBy(salted.alias("r"))
               .agg(F.count(F.lit(1)).cast("long").alias("c"))
               .agg(F.max("c").cast("long").alias("max_load_salted")))
    return (loads_p.crossJoin(F.broadcast(loads_s))
            .selectExpr("n_rows", "max_load_plain", "max_load_salted",
                        "max_load_plain * 1000000"
                        " DIV nullif(max_load_salted, 0)"
                        " AS speedup_ppm"))


def salting_oracle_sql(table: str, key_sql: str, id_sql: str,
                       n_reducers: int = 16, salt: int = 8) -> str:
    k = f"CAST({key_sql} AS VARCHAR)"
    i = f"CAST({id_sql} AS VARCHAR)"
    plain = _h32_duck_sql(f"'p|' || {k}") + f" % {n_reducers}"
    inner = _h32_duck_sql(i) + f" % {salt}"
    salted = (_h32_duck_sql(f"'p|' || {k} || '#' || ({inner})")
              + f" % {n_reducers}")
    return f"""
        WITH lp AS (SELECT {plain} AS r, CAST(COUNT(*) AS BIGINT) AS c
                    FROM {table} GROUP BY 1),
        ls AS (SELECT {salted} AS r, CAST(COUNT(*) AS BIGINT) AS c
               FROM {table} GROUP BY 1),
        a AS (SELECT CAST(MAX(c) AS BIGINT) AS max_load_plain,
                     CAST(SUM(c) AS BIGINT) AS n_rows FROM lp),
        b AS (SELECT CAST(MAX(c) AS BIGINT) AS max_load_salted FROM ls)
        SELECT n_rows, max_load_plain, max_load_salted,
               CAST(max_load_plain * 1000000
                    // nullif(max_load_salted, 0) AS BIGINT)
                   AS speedup_ppm
        FROM a CROSS JOIN b"""
