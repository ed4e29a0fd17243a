"""Fuzzy string matching — edit-distance threshold self-join
(SURVEY §2.8 extension surface; no reference counterpart).

The record-linkage sibling of the Jaccard family: all pairs of
distinct values within Levenshtein distance ``max_dist``, without the
all-pairs cross join. Candidate generation is Ed-Join-style q-gram
PREFIX filtering (Xiao, Wang & Lin, VLDB 2008): k edits destroy at
most q·k q-gram occurrences, so order every string's distinct grams
by GLOBAL document frequency ascending (rarest first, gram string as
tiebreak) and keep only the first ``q·k + 1`` — for any qualifying
pair, the globally-smallest aligned-surviving gram must sit inside
BOTH prefixes (≤ q·k grams can precede it on either side), so a
prefix×prefix equi-join on the gram is a complete candidate set.
Verification is Spark's built-in ``levenshtein`` (JVM codegen).

Why prefixes and not the positional count filter: on adversarial
domains like sequential IDs (``Customer#000000123``) every pair
shares almost every gram, and a count-filter join degenerates to
all-pairs through the hot grams. The df-ascending prefix confines the
join to each string's q·k+1 RAREST grams (the discriminating ones),
exactly like ``jaccard_prefix_join``'s rarest-first order — hot
boilerplate grams never generate candidates.

Completeness corner: the prefix argument needs ≥ q·k+1 grams, i.e.
length ≥ q·(k+1); shorter values go through a cross join within the
short bucket — bounded because distinct strings under that length
are few by alphabet counting. Both routes end in the same
length-filter + verify.

Scale shape: equi-joins + groupBys over DISTINCT values (value-level
output; callers join ids back); the per-string prefix is picked by a
row_number window PARTITIONED BY value (bounded rows per key). No
Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from safedata_pipeline_spark.partitioning import ranged_prefix, spread_small_pinned


def _deletion_variants(value, length):
    """k=1 deletion neighborhood of ``value`` as a deduped array: the
    string itself plus every single-character deletion (FastSS /
    Bocek et al. 2007; the SymSpell family — public). Two distinct
    strings are within Levenshtein distance 1 IFF their neighborhoods
    intersect (substitution → delete the differing position on both
    sides; insertion/deletion → the shorter string IS a variant of the
    longer), so an equi-join on the variant is a COMPLETE candidate
    set with per-variant posting lists of O(true neighbors) — no df²
    blowup when the gram vocabulary saturates."""
    dels = F.transform(
        F.sequence(F.lit(1), length),
        lambda i: F.concat(
            F.substr(value, F.lit(1), i - 1), F.substr(value, i + 1, length)
        ),
    )
    return F.when(
        length >= 1, F.array_union(F.array(value), dels)
    ).otherwise(F.array(value))


def _deletion_candidate_pairs(vals: DataFrame) -> DataFrame:
    """(va, vb) candidates for max_dist=1 via the deletion-neighborhood
    equi-join; ``vals`` carries (value, len)."""
    var = (
        spread_small_pinned(vals)
        .select(
            "value",
            "len",
            F.explode(_deletion_variants(F.col("value"), F.col("len"))).alias("v"),
        )
    )
    a = var.select(F.col("value").alias("va"), F.col("len").alias("la"), "v")
    b = var.select(F.col("value").alias("vb"), F.col("len").alias("lb"), "v")
    return (
        a.join(
            b,
            (a["v"] == b["v"])
            & (F.col("va") < F.col("vb"))
            & (F.abs(F.col("la") - F.col("lb")) <= 1),
        )
        .select("va", "vb")
        .distinct()
    )


def _lev_within(a, b, max_dist: int):
    """BOUNDED Levenshtein verify: Spark's three-arg
    ``levenshtein(l, r, threshold)`` early-exits once the distance
    exceeds ``threshold`` — O(len·k) DP band instead of O(len²) per
    candidate pair, which is the verify stage's whole cost at k=1.
    The threshold form returns −1 ABOVE the bound (which a plain
    ``dist <= k`` filter would happily keep), so it is wrapped to
    NULL there: kept rows carry exactly the true distance, dropped
    rows never survive the ``<= k`` predicate. Same kept set, same
    values as the unbounded form."""
    d = F.levenshtein(a, b, int(max_dist))
    return F.when(d >= 0, d)


def edit_distance_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 1,
    q: int = 2,
) -> DataFrame:
    """All distinct-value pairs with levenshtein ≤ max_dist:
    (value_a, value_b, dist), value_a < value_b.

    Candidate generation is adaptive, both routes published:

    * ``max_dist == 1`` — FastSS deletion neighborhoods
      (``_deletion_candidate_pairs``): every string emits len+1 exact
      variant keys, candidates are variant-key equi-join groups.
      LINEAR in the data for fixed string length — the r10 scale-decade
      gate caught the q-gram prefix route going ~40x wall at 10x data
      on sequential-ID domains (constant gram vocabulary ⇒ posting
      lists grow with n ⇒ df² candidates), while deletion postings stay
      O(true neighbors) there.
    * ``max_dist >= 2`` — Ed-Join q-gram prefix filtering (the
      deletion neighborhood's variant count is C(len, k)-combinatorial
      beyond k=1, Ed-Join's prefix stays q·k+1).

    Domain note: deletion variants materialize len+1 strings of ~len
    chars per value — O(len²) bytes — which is the right trade for the
    SHORT keys fuzzy matching runs on (names, codes, titles; ≤ a few
    hundred chars). For edit-threshold joins over long free text,
    n-gram Jaccard (``jaccard_prefix_join``) is the appropriate
    operator family, not character edit distance."""
    if max_dist < 1 or q < 1:
        raise ValueError("need max_dist >= 1 and q >= 1")
    from pyspark.sql import Window

    k = max_dist
    if k == 1:
        vals = (
            df.where(F.col(col).isNotNull())
            .select(F.col(col).cast("string").alias("value"))
            .distinct()
            .select("value", F.length("value").alias("len"))
        )
        return (
            _deletion_candidate_pairs(vals)
            .select(
                F.col("va").alias("value_a"),
                F.col("vb").alias("value_b"),
                _lev_within("va", "vb", k).cast("int").alias("dist"),
            )
            .where(F.col("dist") <= k)
        )
    prefix = q * k + 1
    short_cut = q * (k + 1)  # below this the prefix argument is vacuous

    vals = (
        df.where(F.col(col).isNotNull())
        .select(F.col(col).cast("string").alias("value"))
        .distinct()
        .select("value", F.length("value").alias("len"))
    )
    long_vals = vals.where(F.col("len") >= short_cut)
    # spread before the ~len-fold gram explode: the distinct-value
    # table often compiles to a handful of partitions (single scan
    # split upstream), single-coring the explode+md5-free gram work
    # and everything that inherits its partitioning. No-op at scale.
    grams = (
        spread_small_pinned(long_vals).select(
            "value",
            "len",
            F.explode(F.sequence(F.lit(1), F.col("len") - F.lit(q - 1))).alias("pos"),
        )
        .select("value", "len", F.substr("value", F.col("pos"), F.lit(q)).alias("gram"))
        .distinct()
    )
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    pref = (
        grams.join(dfreq, "gram")
        .withColumn(
            "rk", F.row_number().over(Window.partitionBy("value").orderBy("__df", "gram"))
        )
        .where(F.col("rk") <= prefix)
        .select("value", "len", "gram")
    )
    a = pref.select(F.col("value").alias("va"), F.col("len").alias("la"), "gram")
    b = pref.select(F.col("value").alias("vb"), F.col("len").alias("lb"), "gram")
    cands = (
        a.join(
            b,
            (a["gram"] == b["gram"])
            & (F.col("va") < F.col("vb"))
            & (F.abs(F.col("la") - F.col("lb")) <= k),
        )
        .select("va", "vb")
        .distinct()
    )
    # short bucket: any pair with at least one side under q·(k+1)
    # escapes the prefix argument; its partner is then under
    # q·(k+1)+k by the length filter, so BOTH sides of the bucket are
    # bounded-short and the cross join is tiny by alphabet counting
    near_short = vals.where(F.col("len") < short_cut + k)
    sa = near_short.select(F.col("value").alias("va"), F.col("len").alias("la"))
    sb = near_short.select(F.col("value").alias("vb"), F.col("len").alias("lb"))
    shorts = sa.join(
        sb,
        (F.col("va") < F.col("vb"))
        & (F.abs(F.col("la") - F.col("lb")) <= k)
        & ((F.col("la") < short_cut) | (F.col("lb") < short_cut)),
    ).select("va", "vb")
    return (
        cands.union(shorts)
        .select(
            F.col("va").alias("value_a"),
            F.col("vb").alias("value_b"),
            _lev_within("va", "vb", k).cast("int").alias("dist"),
        )
        .where(F.col("dist") <= k)
    )


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
    q: int = 2,
) -> DataFrame:
    """TWO-TABLE fuzzy record linkage: all (value_l, value_r) pairs
    across the tables with levenshtein ≤ max_dist — the dirty-roster ↔
    clean-roster entity-resolution join, without the cross join.

    Same Ed-Join prefix machinery as ``edit_distance_pairs`` with one
    cross-table requirement: BOTH sides rank their grams in one GLOBAL
    document-frequency order (df computed over the union of both
    sides' distinct (value, gram) sets) — the aligned-surviving-gram
    argument needs a common order to bound the prefix on each side.
    Short values (prefix argument vacuous) route through the bounded
    short-bucket cross join; both routes end in the same JVM
    ``levenshtein`` verify. Output: (value_l, value_r, dist) over
    DISTINCT values per side — callers join ids back.
    """
    if max_dist < 1 or q < 1:
        raise ValueError("need max_dist >= 1 and q >= 1")
    from pyspark.sql import Window

    k = max_dist
    prefix = q * k + 1
    short_cut = q * (k + 1)

    def _vals(df: DataFrame, col: str) -> DataFrame:
        return (
            df.where(F.col(col).isNotNull())
            .select(F.col(col).cast("string").alias("value"))
            .distinct()
            .select("value", F.length("value").alias("len"))
        )

    def _grams(vals: DataFrame) -> DataFrame:
        # spread before the gram explode (see edit_distance_pairs)
        return (
            spread_small_pinned(vals.where(F.col("len") >= short_cut))
            .select(
                "value",
                "len",
                F.explode(F.sequence(F.lit(1), F.col("len") - F.lit(q - 1))).alias("pos"),
            )
            .select(
                "value", "len", F.substr("value", F.col("pos"), F.lit(q)).alias("gram")
            )
            .distinct()
        )

    lv, rv = _vals(left, left_col), _vals(right, right_col)
    lg, rg = _grams(lv), _grams(rv)
    # ONE global df order across both sides: per-side frequencies would
    # rank grams differently and break the shared-prefix completeness
    dfreq = (
        lg.select("gram").unionByName(rg.select("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__df"))
    )

    def _prefix(g: DataFrame) -> DataFrame:
        return (
            g.join(dfreq, "gram")
            .withColumn(
                "rk",
                F.row_number().over(Window.partitionBy("value").orderBy("__df", "gram")),
            )
            .where(F.col("rk") <= prefix)
            .select("value", "len", "gram")
        )

    a = _prefix(lg).select(F.col("value").alias("vl"), F.col("len").alias("ll"), "gram")
    b = _prefix(rg).select(F.col("value").alias("vr"), F.col("len").alias("lr"), "gram")
    cands = (
        a.join(b, (a["gram"] == b["gram"]) & (F.abs(F.col("ll") - F.col("lr")) <= k))
        .select("vl", "vr")
        .distinct()
    )
    # short bucket: either side under the prefix threshold pairs with
    # partners within k length — both sides bounded-short
    sl = lv.where(F.col("len") < short_cut + k).select(
        F.col("value").alias("vl"), F.col("len").alias("ll")
    )
    sr = rv.where(F.col("len") < short_cut + k).select(
        F.col("value").alias("vr"), F.col("len").alias("lr")
    )
    shorts = sl.join(
        sr,
        (F.abs(F.col("ll") - F.col("lr")) <= k)
        & ((F.col("ll") < short_cut) | (F.col("lr") < short_cut)),
    ).select("vl", "vr")
    return (
        cands.union(shorts)
        .distinct()
        .select(
            F.col("vl").alias("value_l"),
            F.col("vr").alias("value_r"),
            _lev_within("vl", "vr", k).cast("int").alias("dist"),
        )
        .where(F.col("dist") <= k)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    window: int = 8,
    max_dist: int = 1,
) -> DataFrame:
    """SORTED-NEIGHBORHOOD blocking (Hernández & Stolfo 1995's
    merge/purge — the third published blocking family in this engine
    beside Ed-Join gram prefixes and FastSS deletion neighborhoods):
    sort all records by the key, compare each record only against the
    ``window−1`` records that FOLLOW it in sort order, verify with
    exact Levenshtein ≤ ``max_dist``. Its blocking guarantee is
    positional (near-duplicates whose keys sort nearby are found even
    when gram vocabularies saturate), and its cost is strictly
    n·(window−1) candidate pairs — immune to hot-token skew by
    construction.

    Spark-first global rank with NO single-task sort: the rank is
    ``partitioning.ranged_prefix``'s running count over (key, id) —
    every task sorts only its contiguous key range.
    Window pairs become an EQUI-join: with block size W = window−1,
    any qualifying pair spans at most adjacent blocks, so each left
    row probes exactly two block keys. Deterministic end to end
    ((key, id) is a total order), so rank construction, banding AND
    verification replay in the oracle — the hash match certifies the
    window's pair COMPLETENESS, not just value agreement.

    Output: (id_a, id_b, dist), id_a ranked before id_b.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    key, rid = F.col(col), F.col(id_col)
    rows = df.where(key.isNotNull()).select(
        key.alias("__k"), rid.alias("__id"), F.lit(1).alias("n")
    )
    ranked = ranged_prefix(rows, ["__k", "__id"], ["n"]).select(
        "__k", "__id", F.col("__cum_n").alias("__rank")
    )
    bw = window - 1
    blk = lambda r: F.floor((r - 1) / F.lit(bw))  # noqa: E731
    left = ranked.select(
        F.col("__id").alias("id_a"),
        F.col("__k").alias("ka"),
        F.col("__rank").alias("ra"),
        F.explode(F.array(blk(F.col("__rank")), blk(F.col("__rank")) + 1)).alias("__b"),
    )
    right = ranked.select(
        F.col("__id").alias("id_b"),
        F.col("__k").alias("kb"),
        F.col("__rank").alias("rb"),
        blk(F.col("__rank")).alias("__b"),
    )
    return (
        left.join(right, on="__b")
        .where(
            (F.col("rb") - F.col("ra") >= 1) & (F.col("rb") - F.col("ra") <= bw)
        )
        .select(
            "id_a",
            "id_b",
            _lev_within("ka", "kb", max_dist).cast("int").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )
