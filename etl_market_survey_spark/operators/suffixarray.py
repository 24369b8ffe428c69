"""Distributed suffix ranking via prefix doubling (beyond reference —
the index behind exact substring search / substring dedup).

Manber-Myers prefix doubling as DataFrame rounds: after round k every
position holds the rank of its length-2^k prefix; a round is one
self-equi-join on ``pos + 2^k`` (sentinel rank -1 past the end — the
shorter-suffix-sorts-first convention of string comparison) and one
dense re-ranking of the (rank, next_rank) pairs. O(log n) rounds, each
an equi-join + rank — the classic distributed suffix-array construction
(the same shape Flink/MapReduce SA papers use), with per-round
``localCheckpoint`` lineage cuts.

Ranking granularity: pairs re-rank per document with a window (documents
bound the partition — right for a corpus of many docs, which is this
engine's substring-dedup setting; a single giant string would swap the
window for ``prefix.distributed_rank`` + a dense-ify pass, same
algebra). Ranks are exact integers; suffixes of one string are pairwise
distinct, so the final ranks are a permutation — q218 gates them
against a brute-force suffix sort in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .checkpoint import checkpoint


#: Documents longer than this auto-route to the window-free global
#: re-ranking (one giant document would otherwise serialize into a single
#: per-doc window partition each round).
GIANT_DOC_THRESHOLD = 1_000_000


def suffix_ranks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    giant_doc_threshold: int = GIANT_DOC_THRESHOLD,
) -> DataFrame:
    """(id, pos, sa_rank): 1-based lexicographic rank of the suffix
    starting at 0-based ``pos`` within its document.

    Auto-routes: when the longest document exceeds
    ``giant_doc_threshold`` characters the per-doc-window re-ranking
    would pin one partition per round, so the window-free
    :func:`suffix_ranks_global` path is used instead (identical output,
    unit-asserted)."""
    lens = docs.select(F.length(text_col).alias("_l")).agg(F.max("_l")).first()[0]
    if lens is not None and giant_doc_threshold and lens > giant_doc_threshold:
        return suffix_ranks_global(docs, id_col, text_col)
    chars = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "(?!^)")).alias("pos", "_c"),
    ).filter(F.col("_c") != "")  # the zero-width split emits one trailing ""
    w = Window.partitionBy(id_col).orderBy("_r", "_rn")
    cur, seen = checkpoint(
        chars.select(id_col, "pos", F.ascii("_c").cast("long").alias("_r")),
        F.count(F.lit(1)).alias("n"),
    )
    n_total = seen["n"]
    k = 1
    while k < (lens or 1):
        nxt = cur.select(
            F.col(id_col).alias("_id2"),
            (F.col("pos") - k).alias("_p2"),
            F.col("_r").alias("_rn"),
        )
        paired = cur.join(
            nxt,
            (F.col(id_col) == F.col("_id2")) & (F.col("pos") == F.col("_p2")),
            "left",
        ).select(
            id_col,
            "pos",
            "_r",
            F.coalesce("_rn", F.lit(-1)).alias("_rn"),
        )
        cur = paired.withColumn("_nr", F.dense_rank().over(w)).select(
            id_col, "pos", F.col("_nr").cast("long").alias("_r")
        ).localCheckpoint(eager=True)
        k *= 2
        # early termination: once the (dense) ranks are a permutation,
        # every suffix is separated and further doubling is a no-op.
        # Real text separates after a few rounds; the worst case stays
        # ceil(log2(maxlen)). (Never fires before the first dense
        # re-rank — the initial ranks are raw character codes.)
        if cur.select(id_col, "_r").distinct().count() == n_total:
            break
    return cur.select(id_col, "pos", F.col("_r").alias("sa_rank"))


def lcp_array(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sa_rank, pos, lcp): longest common prefix of each suffix
    with its PREDECESSOR in suffix order (rank 1 -> 0) — Kasai et al.'s
    O(n) recurrence per document, run as one Arrow-batched kernel per
    doc over the distributed suffix ranks. The LCP array is what turns
    a suffix array into a repeat/substring index (q223's longest
    repeated substring is simply its argmax)."""
    import pandas as pd

    ranks = suffix_ranks(docs, id_col, text_col)
    withtext = ranks.join(docs.select(id_col, text_col), id_col)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos", ignore_index=True)
        text = pdf[text_col].iloc[0]
        n = len(pdf)
        rank = pdf["sa_rank"].to_numpy()  # rank[pos], 1-based
        sa = [0] * (n + 1)
        for pos in range(n):
            sa[rank[pos]] = pos
        lcp = [0] * (n + 1)
        h = 0
        for pos in range(n):
            r = rank[pos]
            if r > 1:
                j = sa[r - 1]
                while pos + h < n and j + h < n and text[pos + h] == text[j + h]:
                    h += 1
                lcp[r] = h
                if h:
                    h -= 1
            else:
                h = 0
        return pd.DataFrame(
            {
                id_col: pdf[id_col].iloc[0],
                "sa_rank": [rank[p] for p in range(n)],
                "pos": list(range(n)),
                "lcp": [lcp[rank[p]] for p in range(n)],
            }
        )

    from .groupmap import per_group_map

    # per-doc groups are plentiful and small: partition-level mapInPandas
    # amortizes the per-group pandas overhead (guide §4), same kernel
    return per_group_map(
        withtext, [id_col],
        f"{id_col} long, sa_rank long, pos int, lcp int", kernel,
        order_cols=["pos"],
    )


def suffix_ranks_global(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The giant-string variant of :func:`suffix_ranks`: per-round
    re-ranking uses the two-phase ``prefix.distributed_rank`` over the
    (doc, rank, next_rank) order plus a dense-ify join — NO per-key
    window anywhere, so a single multi-gigabyte document (or any skewed
    key) cannot pin one partition. Output is identical to
    :func:`suffix_ranks` (unit-asserted).

    Doc ids are densified to 1..n_docs BEFORE any arithmetic packing
    (ADVICE r2: packing the raw id VALUE overflows int64 for large ids),
    and the composite order is ranked in two count-bounded stages:

    1. pair stage — ``_r * span_r + (_rn + 1)`` with
       ``span_r = max(maxlen + 2, 2^22)``.  Per-doc ranks are bounded by
       the longest document (< 2^31, the JVM string cap) and round-1 raw
       code points are < 2^21, so this pack is always < 2^62.
    2. doc stage — ``didx * (n_total + 2) + pair_index`` with the dense
       doc index and the dense pair index (<= n_total + 1), collision-
       and overflow-free iff ``(n_docs + 1) * (n_total + 2) < 2^63``, a
       bound on COUNTS (guarded with an explicit error), not id values.
    """
    from .prefix import distributed_rank

    chars = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "(?!^)")).alias("pos", "_c"),
    ).filter(F.col("_c") != "")
    # dense 1..n_docs doc index — packs never see the raw id value
    didx = distributed_rank(
        docs.select(id_col).distinct(), id_col, [], out="_didx"
    )
    cur, seen = checkpoint(
        chars.join(didx, id_col).select(
            id_col, "_didx", "pos", F.ascii("_c").cast("long").alias("_r")
        ),
        F.count(F.lit(1)).alias("n"),
    )
    lens = docs.select(F.length(text_col).alias("_l")).agg(F.max("_l")).first()[0]
    n_total = seen["n"]
    n_docs = docs.count()
    span_r = max((lens or 0) + 2, 1 << 22)
    span_tot = n_total + 2
    if (n_docs + 1) * span_tot >= (1 << 63):
        raise ValueError(
            f"suffix_ranks_global: n_docs={n_docs} x n_total={n_total} "
            "exceeds the int64 pack bound (n_docs+1)*(n_total+2) < 2^63; "
            "shard the corpus before indexing"
        )
    k = 1
    while k < (lens or 1):
        nxt = cur.select(
            F.col("_didx").alias("_id2"),
            (F.col("pos") - k).alias("_p2"),
            F.col("_r").alias("_rn"),
        )
        paired = cur.join(
            nxt,
            (F.col("_didx") == F.col("_id2")) & (F.col("pos") == F.col("_p2")),
            "left",
        ).select(
            id_col,
            "_didx",
            "pos",
            "_r",
            F.coalesce("_rn", F.lit(-1)).alias("_rn"),
        )
        # stage 1: dense index over distinct (r, r_next) pairs (< 2^62)
        pk1 = paired.withColumn(
            "_pk1", F.col("_r") * span_r + (F.col("_rn") + F.lit(1))
        )
        pairs = distributed_rank(
            pk1.select("_pk1").distinct(), "_pk1", [], out="_pi"
        )
        # stage 2: docs-first global order over (didx, pair_index)
        pk2 = (
            pk1.join(pairs, "_pk1")
            .withColumn("_pk2", F.col("_didx") * span_tot + F.col("_pi"))
        )
        dense = distributed_rank(
            pk2.select("_pk2").distinct(), "_pk2", [], out="_dr"
        )
        cur = (
            pk2.join(dense, "_pk2")
            .select(id_col, "_didx", "pos", F.col("_dr").alias("_g"))
        )
        # per-doc dense ranks from the global ones: subtract each doc's
        # minimum (global order sorts docs first via the _didx prefix)
        base = cur.groupBy(F.col("_didx").alias("_bid")).agg(
            F.min("_g").alias("_g0")
        )
        cur = (
            cur.join(base, F.col("_didx") == F.col("_bid"))
            .select(
                id_col,
                "_didx",
                "pos",
                (F.col("_g") - F.col("_g0") + 1).alias("_r"),
            )
            .localCheckpoint(eager=True)
        )
        k *= 2
        if cur.select("_didx", "_r").distinct().count() == n_total:
            break
    return cur.select(id_col, "pos", F.col("_r").alias("sa_rank"))


def right_maximal_repeats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    max_len: int = 100,
) -> DataFrame:
    """ALL right-maximal repeats per document (ROADMAP r3: the
    all-repeats upgrade of q223's single argmax): every substring that
    occurs >= 2 times AND whose occurrences are followed by >= 2
    distinct continuations (end-of-string counts) — i.e. every internal
    suffix-tree node, enumerated from the LCP array with the classic
    interval stack (Abouelhoda, Kurtz & Ohlebusch 2004), O(n) per doc
    after the distributed suffix ranking. Output:
    ``(id, repeat, rep_len, n_occ)`` for ``min_len <= rep_len <=
    max_len`` (the cap bounds report width by contract — dedup wants
    long repeats' EXISTENCE, not megabyte strings in the result).

    Scale shape: ranks come from the q218 prefix-doubling operator
    (log-round shuffles); the enumeration is one Arrow kernel per doc —
    state is the doc's own (sa, lcp) arrays, the stack depth is bounded
    by the longest repeat."""
    import pandas as pd

    lcps = lcp_array(docs, id_col, text_col)
    withtext = lcps.join(docs.select(id_col, text_col), id_col)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("sa_rank", ignore_index=True)
        text = pdf[text_col].iloc[0]
        n = len(pdf)
        sa = pdf["pos"].to_numpy()  # position by rank order (1..n)
        lcp = pdf["lcp"].to_numpy()  # lcp[i] vs rank i-1 (0 for first)
        out: dict[str, int] = {}
        # canonical lcp-interval stack (Abouelhoda et al. 2004),
        # validated against brute force over 600 random strings
        stack: list[tuple[int, int]] = []
        for i in range(0, n + 1):
            cur = int(lcp[i]) if i < n else 0
            lb = i - 1
            while stack and cur < stack[-1][0]:
                ell, lbo = stack.pop()
                # ranks [lbo .. i-1] share a prefix of length ell and
                # branch here -> internal suffix-tree node
                size = i - lbo
                if size >= 2 and min_len <= ell <= max_len:
                    rep = text[sa[lbo] : sa[lbo] + ell]
                    if rep not in out or out[rep] < size:
                        out[rep] = size
                lb = lbo
            if cur > 0 and (not stack or cur > stack[-1][0]):
                stack.append((cur, lb))
        return pd.DataFrame(
            {
                id_col: pdf[id_col].iloc[0],
                "repeat": list(out.keys()),
                "rep_len": [len(k) for k in out.keys()],
                "n_occ": list(out.values()),
            }
        )

    from .groupmap import per_group_map

    return per_group_map(
        withtext, [id_col],
        f"{id_col} long, repeat string, rep_len int, n_occ long", kernel,
        order_cols=["sa_rank"],
    )
