"""Merkle-tree dataset fingerprinting (beyond reference — dataset
versioning and integrity).

Content-addresses a table bottom-up: leaf = md5(id | payload digest),
each level hashes ``fanout`` ordered children into one node, up to a
single root. Two snapshots with equal roots are byte-identical; a
changed row flips exactly one path of log_fanout(n) hashes, so a
top-down diff of two trees localizes changed buckets without comparing
rows — the content-addressing scheme behind dataset registries and
lakehouse manifest verification.

Scale shape: level L has n / fanout^L nodes — one map-side-combined
aggregation per level on integer bucket keys, no shuffle wider than the
level itself; the driver loop runs log_fanout(n) rounds on
geometrically shrinking frames, each level's node count observed on
its checkpoint job (:func:`.checkpoint.checkpoint`). Order inside a
node comes from
``array_sort(collect_list(struct(idx, hash)))`` — partition-layout
independent — and ids map to dense leaf indices via the two-phase
``prefix.distributed_rank`` (no single-reducer window). Everything is
md5 over strings: engine-portable, q219 hash-gates the full tree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .checkpoint import checkpoint


def _leaf_hash(id_col: str, payload: Column) -> Column:
    return F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.md5(payload)))


def _parents(level: DataFrame, fanout: int) -> DataFrame:
    """The level above: each node hashes its children in idx order."""
    return level.groupBy(F.expr(f"idx div {fanout}").alias("idx")).agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "hash"))),
                    lambda x: x["hash"],
                ),
                "",
            )
        ).alias("hash")
    )


def _tree(levels: list[DataFrame]) -> DataFrame:
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select(
        F.col("level").cast("int").alias("level"),
        F.col("idx").cast("long").alias("idx"),
        "hash",
    )


def merkle_tree(
    df: DataFrame,
    id_col: str,
    payload: Column,
    fanout: int = 16,
) -> DataFrame:
    """Full tree: (level, idx, hash) rows — level 0 = leaves in
    ``id_col`` order (dense indices), the top level a single root."""
    from .prefix import distributed_rank

    base = df.select(
        F.col(id_col).alias("_id"), _leaf_hash(id_col, payload).alias("hash")
    )
    ranked = distributed_rank(base, "_id", [], out="_rk")
    n = F.count(F.lit(1)).alias("n")
    cur, seen = checkpoint(
        ranked.select((F.col("_rk") - 1).cast("long").alias("idx"), "hash"), n
    )
    levels = [cur.withColumn("level", F.lit(0))]
    lvl = 0
    while seen["n"] > 1:
        lvl += 1
        cur, seen = checkpoint(_parents(cur, fanout), n)
        levels.append(cur.withColumn("level", F.lit(lvl)))
    return _tree(levels)


def sql_merkle_tree(
    table: str,
    id_expr: str,
    payload_expr: str,
    n_leaves: int,
    fanout: int = 16,
) -> str:
    """DuckDB mirror — levels unrolled for ``n_leaves`` (the oracle
    knows its scale; the engine loop does not need to)."""
    sql = f"""
WITH lvl0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY {id_expr}) - 1 AS idx,
         md5(CAST({id_expr} AS VARCHAR) || '|' || md5({payload_expr})) AS hash
  FROM {table}
)"""
    n, lvl = n_leaves, 0
    while n > 1:
        lvl += 1
        sql += f""",
lvl{lvl} AS (
  SELECT idx // {fanout} AS idx,
         md5(string_agg(hash, '' ORDER BY idx)) AS hash
  FROM lvl{lvl - 1} GROUP BY 1
)"""
        n = -(-n // fanout)
    selects = [
        f"SELECT CAST({i} AS INT) AS level, CAST(idx AS BIGINT) AS idx, hash FROM lvl{i}"
        for i in range(lvl + 1)
    ]
    return sql + "\n" + "\nUNION ALL ".join(selects)


def leaf_index(df: DataFrame, id_col: str) -> DataFrame:
    """(id, idx): dense 0-based leaf positions in id order — the mapping
    a deployment persists next to the tree so updates never re-rank."""
    from .prefix import distributed_rank

    base = df.select(F.col(id_col).alias("_id"))
    return distributed_rank(base, "_id", [], out="_rk").select(
        F.col("_id").alias(id_col), (F.col("_rk") - 1).cast("long").alias("idx")
    )


def merkle_update(
    old_tree: DataFrame,
    leaf_idx: DataFrame,
    changed: DataFrame,
    id_col: str,
    payload: Column,
    fanout: int = 16,
) -> DataFrame:
    """Incrementally maintained tree after re-hashing the ``changed``
    rows: only the log_fanout(n) ancestor path of each touched leaf is
    recomputed — every untouched node rides through from ``old_tree``
    verbatim. Exactly equal to a full rebuild over the updated table
    (q220 gates this against the full SQL rebuild).

    Contract: IN-PLACE updates only (rows present in ``leaf_idx``).
    Inserts/deletes shift the dense leaf indexing — use
    :func:`merkle_append` for the append-only growth case (indices past
    the old maximum), :func:`merkle_tree` to rebuild otherwise.

    Per round: the touched parent set joins back to the CURRENT level
    (old nodes + replacements) to gather all children of affected
    buckets — a join proportional to |touched| * fanout, never n.
    """
    new_leaf = changed.select(
        F.col(id_col).alias("_cid"), _leaf_hash(id_col, payload).alias("hash")
    ).join(
        leaf_idx, F.col("_cid") == F.col(id_col)
    ).select("idx", "hash")

    max_level = old_tree.agg(F.max("level")).first()[0]
    out = [
        old_tree.filter(F.col("level") == 0)
        .join(new_leaf.select(F.col("idx").alias("_ri")), F.col("idx") == F.col("_ri"), "left_anti")
        .select("idx", "hash")
        .unionByName(new_leaf)
        .withColumn("level", F.lit(0))
    ]
    touched = new_leaf.select(F.expr(f"idx div {fanout}").alias("_p")).distinct()
    for lvl in range(1, (max_level or 0) + 1):
        cur = out[lvl - 1]
        kids = cur.join(
            touched, F.expr(f"idx div {fanout}") == F.col("_p"), "left_semi"
        )
        replaced = _parents(kids, fanout).localCheckpoint(eager=True)
        lvl_out = (
            old_tree.filter(F.col("level") == lvl)
            .join(
                replaced.select(F.col("idx").alias("_ri")),
                F.col("idx") == F.col("_ri"),
                "left_anti",
            )
            .select("idx", "hash")
            .unionByName(replaced)
            .withColumn("level", F.lit(lvl))
        )
        out.append(lvl_out)
        touched = replaced.select(F.expr(f"idx div {fanout}").alias("_p")).distinct()
    return _tree(out)


def merkle_diff(tree_a: DataFrame, tree_b: DataFrame) -> DataFrame:
    """(level, idx, hash_a, hash_b) for every node whose hash differs
    between two snapshots (NULL side = node absent, i.e. the dataset
    grew/shrank past a bucket boundary). Level-0 rows localize the
    changed leaf buckets WITHOUT comparing any data rows — the
    snapshot-diff read path of the fingerprint: O(changed · log n)
    nodes examined in a top-down walk, or one full-outer join over the
    (tiny) trees as here."""
    a = tree_a.select("level", "idx", F.col("hash").alias("hash_a"))
    b = tree_b.select("level", "idx", F.col("hash").alias("hash_b"))
    return (
        a.join(b, ["level", "idx"], "full_outer")
        .filter(
            F.col("hash_a").isNull()
            | F.col("hash_b").isNull()
            | (F.col("hash_a") != F.col("hash_b"))
        )
        .select("level", "idx", "hash_a", "hash_b")
    )


def merkle_append(
    old_tree: DataFrame,
    old_leaf_idx: DataFrame,
    new_rows: DataFrame,
    id_col: str,
    payload: Column,
    fanout: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Append-only maintenance: new rows (ids strictly ABOVE every
    existing id) take leaf indices past the old maximum, so only the
    rightmost path plus the freshly created buckets rehash — the
    O(new · log n) growth case of the fingerprint. Returns
    ``(new_tree, new_leaf_idx)``.

    Contract: ids append-ordered (asserted) and the tree HEIGHT must
    not change (n stays within the old root's fanout capacity) —
    height growth means a new root level; rebuild via
    :func:`merkle_tree` then (raised explicitly). The guard counts
    levels by integer repeated division (float logs are 1-ulp fragile
    at exact fanout powers) and compares against the OLD tree's actual
    max(level), so a single-leaf old tree (max level 0) always rejects
    growth instead of returning a rootless multi-leaf tree."""
    from .prefix import distributed_rank

    def _levels(n: int) -> int:
        lvl = 0
        while n > 1:
            n = -(-n // fanout)
            lvl += 1
        return lvl

    n_old = old_leaf_idx.count()
    bounds = old_leaf_idx.agg(F.max(id_col)).first()
    new_min = new_rows.agg(F.min(id_col)).first()[0]
    if bounds[0] is not None and new_min is not None and new_min <= bounds[0]:
        raise ValueError(
            f"append-only contract: new ids must exceed {bounds[0]}"
        )
    n_new = new_rows.count()
    old_max_level = old_tree.agg(F.max("level")).first()[0] or 0
    if _levels(n_old + n_new) != old_max_level:
        raise ValueError(
            "append grows the tree height — rebuild with merkle_tree"
        )
    appended = distributed_rank(
        new_rows.select(F.col(id_col).alias("_id")), "_id", [], out="_rk"
    ).select(
        F.col("_id").alias(id_col),
        (F.col("_rk") - 1 + n_old).cast("long").alias("idx"),
    )
    leaf_idx = old_leaf_idx.unionByName(appended)
    new_tree = merkle_update(
        old_tree, leaf_idx, new_rows, id_col, payload, fanout=fanout
    )
    return new_tree, leaf_idx
