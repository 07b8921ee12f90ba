"""Deduplication operators — exact and near-duplicate.

Absent from the reference (SURVEY.md §2 Tier C); built Spark-first for
100 TB corpora:

- **exact**: one hash-partitioned shuffle.  ``exact_dedup_by_hash`` shuffles
  a 64-char digest instead of multi-KB document bodies — at 100 TB the
  shuffle payload is the dominant cost, so group keys must be small.
- **MinHash + LSH**: shingle → k min-hash signature → banded bucket join.
  Candidate pairs come from band-bucket equality (never an all-pairs
  product); exact Jaccard is then verified *only for candidates*.
- **SimHash**: 64-bit signature via per-bit majority vote over token
  hashes; near-dups share signatures within small Hamming distance.
- **n-gram Jaccard**: exact set overlap within a blocking key (bounded
  pair enumeration).

Everything below is built-in-function Spark (whole-stage codegen); there is
no Python in any per-row path.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from iceberg_ruby_spark.errors import InvalidDataError
from iceberg_ruby_spark._localdf import small_local_df
from iceberg_ruby_spark.operators._spread import spread_small_scan


def exact_dedup(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    tie_breaker: Optional[str] = None,
) -> DataFrame:
    """Drop exact duplicates over ``cols`` (default: all columns).

    With ``tie_breaker`` the survivor is deterministic (minimum value wins)
    — required for oracle-comparable results; otherwise ``dropDuplicates``
    keeps an arbitrary row (cheaper: map-side partial aggregation)."""
    keys = list(cols) if cols else df.columns
    if tie_breaker is None:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(tie_breaker).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup_by_hash(
    df: DataFrame,
    text_col: str,
    tie_breaker: str,
    normalize: bool = False,
) -> DataFrame:
    """Exact content dedup shuffling a sha256 digest, not the text.

    At scale the groupBy key is what crosses the network; hashing first
    makes the shuffle payload constant-size per row.  ``normalize`` folds
    case and whitespace before hashing (near-exact dedup)."""
    text = F.col(text_col)
    if normalize:
        text = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    hashed = df.withColumn("__h", F.sha2(text, 256))
    w = Window.partitionBy("__h").orderBy(F.col(tie_breaker).asc())
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__h")
    )


def normalize_text(text_col: str):
    """Case/whitespace-folded text.  Materialize this ONCE per row before
    shingling: inlined into a per-shingle lambda the regex would re-run for
    every element (measured 2× the whole stage at sf0.1)."""
    return F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))


def shingle_array(text_col: str, size: int = 5):
    """Distinct character ``size``-gram shingles of normalized text, as an
    array<string> column (JVM-side: sequence + transform + substr)."""
    t = normalize_text(text_col)
    n = F.greatest(F.length(t) - F.lit(size - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substr(t, i, F.lit(size)))
    )


def _shingle_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    size: int,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, __h): one hash per character shingle, via explode.  The
    normalized text is a projection boundary so the regex runs once per
    row.  Explode + codegen beats a per-row ``transform`` array by ~5× here:
    higher-order lambdas are interpreted expression-tree walks per element,
    while exploded substr/xxhash64 rows pipeline inside whole-stage codegen
    (measured both ways at sf0.1 — the "no shuffle" array form lost badly).
    Shingles are NOT deduped (minhash over a multiset equals minhash over
    the set); set-semantics callers aggregate with ``collect_set``.

    Shingling happens over the normalized text's UTF-8 BYTES: ``substr``
    on a string is O(position) per call (UTF8String must scan for the
    char offset, making per-doc shingling O(L²)) while ``substr`` on
    binary is an O(1) byte slice — measured 6× on this stage at sf0.1.
    For ASCII text the hashes are identical (xxhash64 of a string hashes
    its UTF-8 bytes); multi-byte text only shifts shingle boundaries,
    which a hash sketch tolerates by construction.

    ``hash_fn``: ``xxhash64`` (default, fastest) or ``md5`` — the first
    15 hex digits of md5 as a 60-bit int, the same engine-neutral
    derivation :func:`simhash` uses.  md5 exists with identical semantics
    in other engines (DuckDB: ``CAST('0x'||substr(md5(s),1,15) AS
    BIGINT)``), making every downstream signature — and therefore the
    whole MinHash+LSH pipeline — cross-engine verifiable.

    The input is SPREAD first when under-split (guide §2.5): shingling
    multiplies per-row work ~300× (shingles/doc) × k hash-mins, so a
    byte-sized scan split serializes the whole pipeline's dominant stage
    on one core (measured at sf0.1: the corpus is one 0.6 MB row group →
    a 1-task signature stage; spreading it halved the whole query).
    Partitioning by ``id_col`` lets the signature ``groupBy(id)`` reuse
    this exchange instead of adding one (§2.4); at scale the gate never
    fires (scans split to ≥ cores naturally)."""
    norm = spread_small_scan(df, id_col).select(
        F.col(id_col), F.encode(normalize_text(text_col), "UTF-8").alias("__t")
    )
    n = F.greatest(F.length(F.col("__t")) - F.lit(size - 1), F.lit(1))
    if hash_fn == "md5":
        h = F.expr(
            f"cast(conv(substring(md5(substr(__t, __i, {size})), 1, 15), 16, 10) as bigint)"
        )
    elif hash_fn == "xxhash64":
        h = F.xxhash64(F.expr(f"substr(__t, __i, {size})"))
    else:
        raise InvalidDataError(f"unknown shingle hash_fn: {hash_fn!r}")
    return norm.select(
        F.col(id_col), F.col("__t"), F.explode(F.sequence(F.lit(1), n)).alias("__i")
    ).select(F.col(id_col), h.alias("__h"))


def token_shingle_array(text_col: str, size: int = 3):
    """Distinct word ``size``-gram shingles (space-joined) as array<string>."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.greatest(F.size(toks) - F.lit(size - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.array_join(F.slice(toks, i + 1, size), " "),
        )
    )


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mixer (public-domain splitmix64 constants) —
    seeds the per-hash-function multiplier/offset tables below."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def _signed64(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


# large random odd multipliers + offsets, fixed seed → stable signatures
_MULT = [_signed64(_splitmix64(2 * i) | 1) for i in range(256)]
_OFFS = [_signed64(_splitmix64(2 * i + 1)) for i in range(256)]


def _sig_agg_expr(num_hashes: int) -> str:
    """The whole signature as ONE SQL aggregate expression: ``array(min(
    a_0*h+b_0), …)``.  A single ``F.expr`` costs one py4j round trip where
    the equivalent Column-object construction costs ~6 per hash function —
    measured 2.7 s of pure driver-side graph building at k=64 before this.
    The min aggregates run as codegen HashAggregate with map-side partial
    aggregation, so only one (id, k-longs) row per doc per partition ever
    reaches the exchange — the shuffle payload is the compact sketch, not
    the shingles.  (A per-row ``array_min(transform(...))`` variant avoids
    the shuffle entirely but loses ~5× to interpreted higher-order lambda
    evaluation — measured, rejected.)"""
    mins = ",".join(
        f"min(__h * ({_MULT[i]}L) + ({_OFFS[i]}L))" for i in range(num_hashes)
    )
    return f"array({mins}) AS sig"


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_size: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<long>) — MinHash signature per document.

    Plan shape: explode shingles → ONE xxhash64 per shingle → ONE
    groupBy(id) computing all ``num_hashes`` mins in a single shuffle
    whose payload is the compact sketch (map-side partial aggregation).
    The k hash functions are affine derivations ``a_i*h + b_i`` of the one
    base hash (Carter–Wegman style) — k long multiplies per shingle instead
    of k string hashes (measured 3× faster at sf0.1).  The ``a_i`` must be
    *large random* odd constants: small multipliers (3, 5, 7…) preserve the
    ordering near the minimum, correlating all k mins and collapsing LSH
    into near-all-pairs (measured: 3.2M candidate pairs on 5k docs).
    No Python per row; wrapping long arithmetic requires ANSI off (pinned
    by plans.tables.load).  ``hash_fn='md5'`` swaps the base shingle hash
    for the engine-neutral md5 derivation (see :func:`_shingle_hashes`) —
    the affine mins, and so the signatures, then reproduce bit-for-bit in
    any engine with md5 + 64-bit wrapping arithmetic."""
    hashed = _shingle_hashes(df, text_col, id_col, shingle_size, hash_fn=hash_fn)
    return hashed.groupBy(id_col).agg(F.expr(_sig_agg_expr(num_hashes)))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    threshold: float = 0.6,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold) via
    MinHash + banded LSH.

    1. signatures (one shuffle, map-side partial aggregation — only the
       compact k-long sketch per doc reaches the exchange);
    2. explode ``bands`` band-hashes WITH a byte-packed copy of the
       signature carried alongside (the 64 min-hash low bytes in 8 longs
       — 8× less exchange payload than the full sketch), self-join on
       the band hash → candidate pairs — the only pair enumeration, and
       it is bucket-local.  Carrying the packed sketch through the band
       join removes the alternative: joining candidates back to a
       broadcast of the full signature table, which is corpus-sized and
       therefore NOT broadcastable at 100 TB (the round-3 form did
       exactly that — fine at sf0.1, a driver OOM at scale);
    3. funnel: estimate Jaccard from signature agreement as a pipelined
       filter on the band-join output — no extra joins, no extra shuffle.
       Each min-hash LOW BYTE is the same Bernoulli agreement sample as
       the full 64-bit min (unequal mins collide on a byte with prob
       ~1/256 — a small optimistic bias in the safe direction, since the
       exact verification kills false positives), so the agreement count
       is 8 XOR + SWAR zero-byte counts over the packed longs — pure
       bitwise whole-stage codegen, replacing the round-3 interpreted
       ``aggregate(zip_with(...))`` walk (expression-tree evaluation per
       64-element row pair over the 687k-row collision multiset at
       sf0.1);
    4. exact Jaccard verification **of candidates only**, via a
       candidate-filtered corpus re-scan (shingle sets compared with one
       JVM array_intersect per pair).

    At 100 TB step 2's bucket join replaces the O(n²) all-pairs product;
    skewed buckets (boilerplate shingles) are handled by AQE skew-join.
    Every intermediate that is persisted or broadcast is output-sized
    (surviving pairs, candidate ids), never corpus-sized."""
    from pyspark import StorageLevel

    sig = (
        _shingle_hashes(df, text_col, id_col, shingle_size, hash_fn=hash_fn)
        .groupBy(id_col)
        .agg(F.expr(_sig_agg_expr(num_hashes)))
    )
    # shuffle_hash on the self-join (r13): the planner's broadcast choice
    # computes the shingle+signature subtree TWICE — once for the stream
    # side, once inside the broadcast build (no exchange to reuse).  A
    # shuffled-hash join gives both sides the IDENTICAL Exchange, which
    # AQE dedups into one reused shuffle stage — the corpus is shingled
    # once, with no corpus-sized persist (the alternative fix, rejected:
    # a cached signature table is corpus-sized state).  Measured
    # interleaved at sf0.1: 4.3/3.8 s vs 5.7/4.3 s broadcast.  At 100 TB
    # a broadcast of the band frame is impossible anyway; SHJ beats SMJ
    # by skipping both sorts, and AQE skew-split still applies.
    bands_df = _packed_band_frame(sig, id_col, num_hashes, bands).hint(
        "shuffle_hash"
    )
    a = bands_df.alias("a")
    b_ = bands_df.alias("b")
    # NO distinct before the funnel: a pair colliding in several bands is
    # estimated once per collision, but the estimate is a pipelined filter
    # (dup-insensitive) and deduping its small output beats shuffling the
    # full candidate multiset.  The distinct AFTER the funnel is the cheap
    # place to pay that shuffle (sf0.1: 687k collisions → 23k survivors).
    cand = (
        a.join(b_, F.col("a.__bh") == F.col("b.__bh"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(_funnel_predicate(num_hashes, threshold))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _verify_exact_jaccard(
        cand, df, text_col, id_col, shingle_size, threshold, hash_fn
    )


def _packed_band_frame(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, __p0..__pN, __bh) — one row per (doc, band).

    The agreement estimate doesn't need full 64-bit mins — the LOW BYTE
    of each min is an equally valid Bernoulli sample (byte-collision of
    unequal mins adds ~1/256 upward bias, absorbed by the funnel margin
    and in the safe direction: extra candidates die in exact
    verification).  Packing 8 low-bytes per long does two things at once:

    * the band exchange carries 8 longs instead of the 64-long
      signature — 8× less shuffle payload per doc per band;
    * per-pair agreement becomes pure bitwise codegen (SWAR zero-byte
      count) instead of an interpreted 64-element aggregate(zip_with(...))
      walk — the round-3 funnel's dominant cost at 687k collision rows.

    The band index is folded into ONE 64-bit key — the bucket join
    shuffles and compares a single long instead of (int, long)."""
    rows_per_band = max(1, num_hashes // bands)
    n_packs = (num_hashes + 7) // 8
    pack_exprs = [
        "("
        + " + ".join(
            f"shiftleft(sig[{p * 8 + k}] & 255L, {8 * k})"
            for k in range(min(8, num_hashes - p * 8))
        )
        + f") AS __p{p}"
        for p in range(n_packs)
    ]
    band_exprs = ",".join(
        "xxhash64("
        + ",".join([str(b)] + [f"sig[{i}]" for i in range(b * rows_per_band, (b + 1) * rows_per_band)])
        + ")"
        for b in range(bands)
    )
    return sig.selectExpr(id_col, *pack_exprs, f"explode(array({band_exprs})) AS __bh")


def _funnel_predicate(num_hashes: int, threshold: float):
    """Column predicate: byte-packed agreement estimate ≥ threshold − 2σ,
    over the ``a``/``b`` aliases of two :func:`_packed_band_frame` sides.

    SWAR zero-byte count per packed long: z has bit7 set in every byte
    where a.__pi and b.__pi DISAGREE, so agreeing bytes across all packs
    = num_hashes − Σ bit_count(z & 0x8080…).  ~6 bitwise ops per pack,
    all inside whole-stage codegen."""
    n_packs = (num_hashes + 7) // 8
    _LO7 = 0x7F7F7F7F7F7F7F7F
    _HI = -9187201950435737472  # 0x8080808080808080 as signed long

    def _swar(p: int) -> str:
        x = f"(a.__p{p} ^ b.__p{p})"
        return f"bit_count(((({x} & {_LO7}L) + {_LO7}L) | {x} | {_LO7}L) & {_HI}L)"

    disagree = " + ".join(_swar(p) for p in range(n_packs))
    est = f"({num_hashes} - ({disagree})) / CAST({num_hashes} AS DOUBLE)"
    # ~2σ of the k-sample Bernoulli estimate at j≈threshold
    margin = 2.0 * (threshold * (1.0 - threshold) / num_hashes) ** 0.5
    return F.expr(est) >= F.lit(max(0.0, threshold - margin))


def _verify_exact_jaccard(
    cand: DataFrame,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_size: int,
    threshold: float,
    hash_fn: str,
) -> DataFrame:
    """Exact-Jaccard verification of (persisted) candidate pairs against
    ``docs`` (id, text).

    Compares 64-bit shingle-hash SETS, not strings — identical set algebra
    modulo 2^-64 collisions.  Only docs that appear in a surviving pair
    are re-shingled: the broadcast semi-join filters the corpus scan
    BEFORE the shingle explode runs, so the blow-up happens for the
    candidate docs, not the corpus.  Each pair then costs one JVM
    array_intersect over two in-row arrays instead of a multi-million-row
    shingle×pair shuffle join.  One extra corpus scan (IO only — columns
    pruned to id+text) buys never materializing the 8×-corpus exploded
    shingle table."""
    from pyspark import StorageLevel

    # one explode pass over the cached pairs (not a 2-branch union — half
    # the cache reads, same distinct)
    cand_ids = (
        cand.select(F.explode(F.array("id_a", "id_b")).alias(id_col)).distinct()
    )
    # broadcast the id set — a shuffled semi-join would move every doc row;
    # the id list is 8 bytes per candidate doc.  The sets relation is
    # PERSISTED because both join sides below reference it: unpersisted,
    # Spark evaluates the whole subtree twice — two extra full corpus
    # scans (the semi-join filters rows, not IO) and two shingle explodes.
    # The cache is candidate-doc-sized (output-scale), so trading two
    # corpus-sized scans for one small cache is the right call at 100 TB
    # (round-5 plan audit: minhash scans 4 → 3).
    sets = (
        _shingle_hashes(
            docs.join(F.broadcast(cand_ids), id_col, "left_semi"),
            text_col,
            id_col,
            shingle_size,
            hash_fn=hash_fn,
        )
        .groupBy(id_col)
        .agg(F.collect_set("__h").alias("__set"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # plain shuffle joins: candidate shingle sets are doc-sized, so unlike
    # the pair list they are not safely broadcastable at scale
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("__set").alias("__seta"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("__set").alias("__setb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__inter", F.size(F.array_intersect("__seta", "__setb")))
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("__seta") + F.size("__setb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_incremental_pairs(
    corpus_df: DataFrame,
    batch_df: DataFrame,
    text_col: str,
    id_col: str,
    corpus_sigs: Optional[DataFrame] = None,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    threshold: float = 0.6,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup mining: dedup a NEW batch against an existing
    corpus WITHOUT re-mining the corpus — the operational shape a 100 TB
    ingest pipeline actually runs per arrival.

    Returns ``(pairs, batch_sigs)``:

    * ``pairs`` — every verified near-dup pair touching ≥1 batch doc:
      batch×corpus AND batch×batch.  EXACTLY equal to
      :func:`minhash_lsh_pairs` over ``corpus ∪ batch`` restricted to
      pairs with a batch member (same signatures, same banding, same
      funnel, same exact verification — proven by the ``dedup_incremental``
      oracle and the multi-ingest pytest).
    * ``batch_sigs`` — (id, sig) for the batch, to append to the persisted
      signature table (``corpus_sigs``) so the NEXT ingest joins against
      stored state instead of re-hashing history.

    ``corpus_sigs``: the persisted (id, sig array<long>) state from prior
    ingests (e.g. an engine table fed by this function's second output).
    When None, corpus signatures are computed from ``corpus_df`` — the
    bootstrap ingest.  ``corpus_df`` supplies only id+text for the exact
    verification of candidate pairs (a candidate-filtered scan — the
    corpus is never re-shingled wholesale, never shuffled).

    Scale shape: the band join probes stored corpus bands with the
    (small) batch bands — the only shuffle proportional to corpus size is
    the band-key exchange of the signature table, which is ~1/10 the text
    payload; candidates, pairs, and the verification scan are all
    batch-output-sized."""
    from pyspark import StorageLevel

    batch_sigs = (
        _shingle_hashes(batch_df, text_col, id_col, shingle_size, hash_fn=hash_fn)
        .groupBy(id_col)
        .agg(F.expr(_sig_agg_expr(num_hashes)))
    )
    if corpus_sigs is None:
        corpus_sigs = (
            _shingle_hashes(corpus_df, text_col, id_col, shingle_size, hash_fn=hash_fn)
            .groupBy(id_col)
            .agg(F.expr(_sig_agg_expr(num_hashes)))
        )
    batch_bands = _packed_band_frame(batch_sigs, id_col, num_hashes, bands)
    # build side = stored corpus bands ∪ batch bands (a batch doc can pair
    # with another batch doc); probe side = batch bands only, so every
    # collision touches the batch by construction.
    all_bands = _packed_band_frame(corpus_sigs, id_col, num_hashes, bands).unionByName(
        batch_bands
    )
    a = all_bands.alias("a")
    b_ = batch_bands.alias("b")
    cand = (
        a.join(b_, F.col("a.__bh") == F.col("b.__bh"))
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .filter(_funnel_predicate(num_hashes, threshold))
        # canonicalize: batch×batch collisions appear mirrored, corpus×batch
        # only with the corpus doc on the build side — least/greatest +
        # distinct folds both into the full-run's (id_a < id_b) vocabulary
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    docs = corpus_df.select(F.col(id_col), F.col(text_col)).unionByName(
        batch_df.select(F.col(id_col), F.col(text_col))
    )
    pairs = _verify_exact_jaccard(
        cand, docs, text_col, id_col, shingle_size, threshold, hash_fn
    )
    return pairs, batch_sigs


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash: long) — SimHash over word tokens.

    Per-bit majority vote, expressed as ``bits`` conditional sums in ONE
    groupBy (single shuffle, all JVM-side): token hash h contributes +1 to
    bit b if h's bit b is set, else −1; the signature sets bit b where the
    sum is positive.

    ``hash_fn``: ``xxhash64`` (default, fastest) or ``md5`` — the first
    15 hex digits of md5 as a 60-bit int.  md5 exists with identical
    semantics in other engines (DuckDB: ``CAST('0x'||substr(md5(t),1,15)
    AS BIGINT)``), making the whole signature cross-engine verifiable;
    ``bits`` is capped at 60 in that mode."""
    if hash_fn == "md5":
        bits = min(bits, 60)
        h = F.conv(F.substring(F.md5("__t"), 1, 15), 16, 10).cast("long")
    elif hash_fn == "xxhash64":
        h = F.xxhash64("__t")
    else:
        raise InvalidDataError(f"unknown simhash hash_fn: {hash_fn!r}")
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("__t"),
    ).withColumn("__h", h)
    aggs = []
    for b in range(bits):
        bit_set = F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1
        aggs.append(F.sum(F.when(bit_set, 1).otherwise(-1)).alias(f"__b{b}"))
    votes = toks.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(
            F.col(f"__b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col(id_col), sig.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact word-``n``-gram Jaccard pairs within a blocking key.

    The block join bounds pair enumeration (all-pairs only inside a block);
    suitable when a cheap equality blocker exists (source, language,
    length bucket).  Set algebra is array_intersect/array_union — JVM-side."""
    with_sh = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        token_shingle_array(text_col, n).alias("sh"),
    )
    a = with_sh.alias("a")
    b = with_sh.alias("b")
    return (
        a.join(b, "block")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (
                F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
                / F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, hamming ≤ ``max_hamming``) from
    SimHash signatures (``hash_fn`` as in :func:`simhash`).

    Pigeonhole banding: split the signature into ``max_hamming + 1``
    chunks — any pair within the Hamming budget must agree EXACTLY on at
    least one chunk, so candidates come from equality joins on chunk
    values (never an all-pairs product); verification is one
    ``bit_count(xor)`` per candidate.  Everything JVM-side."""
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    if hash_fn == "md5":
        bits = min(bits, 60)
    sig = simhash(df, text_col, id_col, bits=bits, hash_fn=hash_fn)
    chunk_cols = []
    for c in range(n_chunks):
        lo = c * chunk_bits
        width = bits - lo if c == n_chunks - 1 else chunk_bits
        mask = (1 << width) - 1
        chunk_cols.append(
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit(mask)).alias("cv"),
            )
        )
    chunks = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*chunk_cols)).alias("__c")
    ).select(id_col, "simhash", "__c.chunk", "__c.cv")
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.cv") == F.col("b.cv")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    allow_all_pairs: bool = False,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-based near-duplicate pairs: (id_a < id_b, cosine ≥
    threshold).

    The default is the scale path: sign-LSH bucketing (reused from
    operators/similarity.py) bounds pair enumeration to same-bucket
    candidates before the exact cosine check; at high thresholds near-dups
    land in the same bucket with high probability.  ``n_tables > 1``
    unions candidates over L independent plane sets — recall
    1-(1-p^m)^L instead of p^m, the same trade lsh_ann_topk documents —
    at the cost of an L-fold index explode and one candidate dedup.
    Exact all-pairs (``n_planes=0``) is a crossJoin — quadratic, only
    sane on a bounded slice — so it additionally requires
    ``allow_all_pairs=True`` (round-2 advisory: a 100 TB-facing API must
    not default to O(n²))."""
    from iceberg_ruby_spark.operators.similarity import (
        _dot,
        _hyperplanes,
        _norm,
        lsh_bucket,
    )

    if n_planes <= 0 and not allow_all_pairs:
        raise InvalidDataError(
            "embedding_cosine_pairs with n_planes=0 enumerates ALL pairs "
            "(quadratic); pass allow_all_pairs=True to opt in on a bounded "
            "slice, or keep n_planes>0 for the LSH-bucketed path"
        )
    # norms precomputed per ROW (value-identical to the per-pair form —
    # same expression over the same values — but O(n) instead of O(pairs):
    # each _norm is a full interpreted 64-element fold)
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    ).withColumn("__na", _norm(F.col("__va")))
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    ).withColumn("__nb", _norm(F.col("__vb")))
    if n_planes > 0:
        dim = len(df.select(vec_col).first()[0])
        # table id packed into the bucket key's high bits → one long-key
        # equality join regardless of n_tables
        def buckets(vec):
            return F.explode(
                F.array(
                    *[
                        lsh_bucket(vec, _hyperplanes(dim, n_planes, 42 + 1000 * t))
                        + F.lit(t << n_planes).cast("long")
                        for t in range(n_tables)
                    ]
                )
            )

        a = a.withColumn("__bkt", buckets(F.col("__va")))
        b = b.withColumn("__bkt", buckets(F.col("__vb")))
        cand = a.join(b, "__bkt").filter(F.col("id_a") < F.col("id_b"))
        if n_tables > 1:
            # a pair colliding in several tables is scored once
            cand = cand.dropDuplicates(["id_a", "id_b"])
    else:
        cand = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        cand.withColumn(
            "cosine",
            F.round(
                _dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 13,
    keep_contaminated: bool = False,
) -> DataFrame:
    """Benchmark decontamination — the train/test-overlap scrub every
    serious training corpus runs (the GPT-3 paper's 13-gram rule): drop
    (or with ``keep_contaminated=True``, annotate) corpus documents that
    share ANY word ``ngram``-gram with a benchmark/eval set.

    100 TB shape: the benchmark's distinct grams BROADCAST (eval sets are
    tiny next to the corpus); the corpus explodes its distinct grams
    map-side and inner-joins the broadcast — the corpus is never
    shuffled, and the only aggregated relation is contaminated-hit-sized.
    Annotated output adds ``n_contaminated_grams`` / ``contaminated``.
    """
    bench_grams = benchmark.select(
        F.explode(token_shingle_array(text_col, ngram)).alias("__g")
    ).distinct()
    grams = corpus.select(
        F.col(id_col), F.explode(token_shingle_array(text_col, ngram)).alias("__g")
    )
    hits = (
        grams.join(F.broadcast(bench_grams), "__g", "inner")
        .groupBy(id_col)
        .agg(F.count_distinct("__g").alias("n_contaminated_grams"))
    )
    out = (
        corpus.join(hits, id_col, "left")
        .withColumn(
            "n_contaminated_grams",
            F.coalesce(F.col("n_contaminated_grams"), F.lit(0)).cast("long"),
        )
        .withColumn("contaminated", F.col("n_contaminated_grams") > 0)
    )
    if keep_contaminated:
        return out
    return out.filter(~F.col("contaminated")).drop(
        "contaminated", "n_contaminated_grams"
    )


def _local_union_find(edges) -> list[tuple[int, int]]:
    """Driver-side union-find over an iterable of (src, dst) int pairs —
    the small-graph fast path's closure.  Union by MIN root so every
    root is its component's smallest id (the distributed loop's exact
    contract).  Memory is one dict entry per distinct NODE (not per
    edge); the 500k-edge gate bound is property-tested against a
    tracemalloc ceiling in tests/test_operators.py so the constant is
    evidence-backed, not estimated."""
    parent: dict[int, int] = {}

    def _find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for s, d in edges:
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = _find(s), _find(d)
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    return [(n, _find(n)) for n in parent]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair list → one
    ``(doc_id, cluster_id)`` row per document appearing in any pair, with
    ``cluster_id`` = the smallest doc id in its component.  This is the
    step every dedup pipeline runs AFTER pair generation: transitive
    closure groups {A~B, B~C} into one cluster so exactly one canonical
    document survives per near-dup family.

    Label propagation with alternating minimum: each round every node
    takes ``min(own label, neighbors' labels)``; converges in
    O(diameter) rounds — near-dup clusters are small and dense, so
    usually 2-4.  Each round is ONE join + ONE aggregation on the
    (output-sized, never corpus-sized) edge list, with an eager
    ``localCheckpoint`` truncating the plan so iteration N doesn't
    re-execute rounds 1..N-1.  The round loop is driver-side control flow
    only — per-round data never leaves the executors except the single
    convergence counter."""
    return _connected_components(pairs, id_a, id_b, max_iterations)[0]


def _connected_components(
    pairs: DataFrame, id_a: str, id_b: str, max_iterations: int
) -> tuple[DataFrame, bool]:
    """:func:`connected_components` plus which path ran: True when the
    driver union-find fast path built the frame (the member set is then
    bounded by its edge gate), False for the distributed loop."""
    sym = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    # the pair count rides the checkpoint job (CollectMetrics) — it gates
    # the small-graph fast path below for free.  The RAW directed pair
    # list is what gets checkpointed: union-find is insensitive to edge
    # direction and duplicates, so the small path needs neither the
    # symmetrization nor the `distinct` — which means this job carries NO
    # shuffle at all (the old shape exchanged the 2E-row symmetrized list
    # to dedup it before the gate had even decided the rows were going to
    # the driver).  The distributed loop below still builds the
    # symmetrized distinct edge list, from the checkpointed pairs.
    obs0 = Observation()
    raw = sym.observe(obs0, F.count(F.lit(1)).alias("n")).localCheckpoint()
    n_edges = 2 * int(obs0.get["n"] or 0)  # symmetrized upper bound
    # Small-graph fast path (r13): each label-propagation round costs 2-3
    # shuffled jobs of pure scheduling latency when the edge list is tiny
    # — and near-dup pair lists usually ARE tiny relative to the corpus
    # (they are output-sized by construction).  Below the bound the exact
    # same min-label closure runs as a driver union-find over the
    # ALREADY-COUNTED edge list: the collect is provably bounded (the
    # observe count gates it BEFORE any row moves), ~16 bytes/edge, and
    # the loop is O(E α(E)).  Above the bound the distributed loop runs
    # unchanged — the threshold adapts to data size, not cluster shape.
    local_max = int(
        os.environ.get("SPARK_GRAFT_CC_LOCAL_MAX_EDGES", "500000") or 0
    )
    if n_edges <= local_max:
        spark = pairs.sparkSession
        return small_local_df(
            spark,
            _local_union_find((row[0], row[1]) for row in raw.collect()),
            "doc_id long, cluster_id long",
        ), True
    edges = (
        raw.union(raw.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select("src").distinct().withColumn("lbl", F.col("src"))
    for _ in range(max_iterations):
        nbr_min = (
            edges.join(
                labels.select(F.col("src").alias("dst"), F.col("lbl").alias("nlbl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nlbl").alias("nbr"))
        )
        new_lbl = F.least(F.col("lbl"), F.coalesce(F.col("nbr"), F.col("lbl")))
        # convergence detection rides the SAME job as the checkpoint via
        # observe() (CollectMetrics is free at execution time) — the old
        # separate join-and-count action re-ran the round's shuffles and
        # was ~1/3 of the whole loop's wall at bench scale (r13)
        obs = Observation()
        new = (
            labels.join(nbr_min, "src", "left")
            .select(
                "src",
                new_lbl.alias("lbl"),
                (new_lbl != F.col("lbl")).cast("long").alias("__chg"),
            )
            .observe(obs, F.sum("__chg").alias("changed"))
            .localCheckpoint()
        )
        labels = new.drop("__chg")
        if not (obs.get["changed"] or 0):
            break
    comp = labels.select(F.col("src").alias("doc_id"), F.col("lbl").alias("cluster_id"))
    return comp, False


def apply_dedup(
    corpus: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: Optional[str] = None,
    quality_fn=None,
) -> DataFrame:
    """The dedup pipeline's APPLY step: given the corpus and its verified
    near-dup pairs, return the corpus with every near-dup family reduced
    to ONE canonical survivor (highest ``quality_col``, ties and the
    no-quality default broken by smallest id).  Docs in no pair pass
    through untouched.

    ``quality_fn`` supplies the quality lookup lazily: it is called with
    the member-id frame (one ``id_col`` row per doc in any pair — the
    components output, so already materialized) and must return an
    ``(id_col, quality_col)`` frame covering those ids.  The ranking
    consults quality ONLY for component members, so a caller whose
    quality is derived (not stored on the corpus) computes it for the
    output-sized member set instead of attaching a corpus-sized derived
    column that the returned frame would drop anyway (guide §1.2: don't
    compute things you throw away).

    Scale shape: components (:func:`connected_components`) and the
    ranked loser list are pair-output-sized, never corpus-sized; the
    canonical choice is a per-cluster window (clusters are small by
    construction); the final step is one anti-join of the corpus against
    the loser ids."""
    comp, driver_local = _connected_components(
        pairs, "id_a", "id_b", max_iterations=20
    )
    comp = comp.withColumnRenamed("doc_id", "__cc_id")
    qual_cols = [F.col(quality_col).alias("__q")] if quality_col else []
    if quality_fn is not None and not quality_col:
        # r14 (ADVICE r13): a callback without a quality column is
        # silently meaningless — the frame would join and be ignored
        # while still paying the callback's cost
        raise InvalidDataError(
            "apply_dedup: quality_fn requires quality_col (the callback's "
            "output column the ranking should read)"
        )
    if quality_fn is not None:
        qual_src = quality_fn(comp.select(F.col("__cc_id").alias(id_col)))
        # LEFT join (r14, ADVICE r13): a contract-violating callback that
        # returns a frame missing some member ids must degrade to min-id
        # ranking for those members (null __q sorts last under desc),
        # never silently drop them from the window — dropped members
        # bypass dedup entirely.  For a compliant callback the join is
        # key-complete and left ≡ inner.  The quality side is BROADCAST
        # explicitly: left-outer cannot build-left, so without the hint
        # the planner flips the previously-broadcast ranking join to a
        # two-exchange sort-merge (seen in the dedup_semantic plan).
        # Scale-safety is unchanged — the callback frame is member-sized,
        # the very frame the inner path's auto-broadcast already shipped.
        how = "left"
    else:
        qual_src = corpus
        # corpus-sourced quality keeps the inner join: caller-supplied
        # pairs may reference ids absent from the corpus, and a phantom
        # id must not enter the ranking (a left join would let a phantom
        # minimum id win a cluster and evict a real survivor)
        how = "inner"
    qual_sel = qual_src.select(
        F.col(id_col).cast("long").alias("__cc_id"), *qual_cols
    )
    if how == "left" and driver_local:
        # broadcast only when the component frame itself came from the
        # driver union-find fast path (the ≤500k-edge gate): the
        # member-sized quality frame is then bounded by the
        # same gate and safely broadcastable.  When the DISTRIBUTED
        # closure ran, the member set is big by the very same gate, and
        # an unconditional broadcast hint would force a multi-GB build
        # the planner's threshold was protecting against (r14 review) —
        # the shuffle join is the right shape there.
        qual_sel = F.broadcast(qual_sel)
    ranked = comp.join(qual_sel, "__cc_id", how)
    order = ([F.col("__q").desc()] if quality_col else []) + [F.col("__cc_id").asc()]
    w = Window.partitionBy("cluster_id").orderBy(*order)
    losers = (
        ranked.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(F.col("__cc_id").alias(id_col))
    )
    return corpus.join(losers, id_col, "left_anti")


def leakage_safe_split(
    corpus: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    valid_frac: float = 0.1,
    seed: int = 42,
) -> DataFrame:
    """Train/validation split that never separates near-duplicates: the
    split key is the doc's near-dup CLUSTER id (its own id when it has no
    near-dups), so an eval doc can never have a training-set twin — the
    contamination a plain row-level split bakes in.

    The draw is the same md5-derived deterministic uniform the stratified
    sampler uses (pure function of seed + cluster id: identical output on
    any partitioning/cluster size, bit-reproducible by external engines).
    Adds ``cluster_id`` and ``split`` ('train' | 'valid')."""
    comp = connected_components(pairs, max_iterations=20).withColumnRenamed(
        "doc_id", "__cc_id"
    )
    out = corpus.join(
        comp, corpus[id_col].cast("long") == comp["__cc_id"], "left"
    ).drop("__cc_id")
    cid = F.coalesce(F.col("cluster_id"), F.col(id_col).cast("long"))
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), cid.cast("string"))), 1, 15),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 60))
    )
    return out.withColumn("cluster_id", cid).withColumn(
        "split", F.when(u < F.lit(float(valid_frac)), "valid").otherwise("train")
    )


def shared_span_stats(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document SHARED-SPAN statistics — the C4/RefinedWeb-style
    signal for boilerplate and mass-duplicated passages: for each document,
    how many of its word ``ngram``-grams also appear in at least
    ``min_docs - 1`` OTHER documents, and what fraction of the document
    that is.  Filtering/trimming on ``shared_frac`` removes templated
    pages and licence blocks that per-document dedup can't see.

    100 TB shape: one explode of distinct per-doc grams, ONE count-by-gram
    shuffle (gram cardinality, not corpus bytes — grams hash-group
    map-side first), and a semi-join back; never all-pairs.  Adds
    ``n_grams``, ``n_shared_grams``, ``shared_frac``."""
    grams = corpus.select(
        F.col(id_col), F.explode(token_shingle_array(text_col, ngram)).alias("__g")
    )
    # one exchange feeds all THREE consumers (r13, the remove_shared_spans
    # mechanism): the gram explode was evaluated for the shared-count
    # aggregate, the semi-join probe, and the per-doc totals separately.
    # Repartitioned by gram, the first two share the exchange verbatim and
    # the totals branch re-exchanges by doc id from the same materialized
    # stage instead of re-running the corpus explode.
    grams = grams.repartition(F.col("__g"))
    shared = (
        grams.groupBy("__g")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__g")
    )
    per_doc = (
        grams.join(shared, "__g", "left_semi")
        .groupBy(id_col)
        .agg(F.count_distinct("__g").alias("n_shared_grams"))
    )
    totals = grams.groupBy(id_col).agg(F.count_distinct("__g").alias("n_grams"))
    return (
        corpus.join(totals, id_col, "left")
        .join(per_doc, id_col, "left")
        .withColumn("n_grams", F.coalesce(F.col("n_grams"), F.lit(0)).cast("long"))
        .withColumn(
            "n_shared_grams",
            F.coalesce(F.col("n_shared_grams"), F.lit(0)).cast("long"),
        )
        .withColumn(
            "shared_frac",
            F.when(F.col("n_grams") > 0, F.col("n_shared_grams") / F.col("n_grams"))
            .otherwise(F.lit(0.0))
            .cast("double"),
        )
    )


def line_dedup(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    drop_empty_docs: bool = False,
) -> DataFrame:
    """Corpus-wide exact LINE deduplication — the RefinedWeb/C4-family
    boilerplate scrub: any line whose trimmed form appears in the corpus
    at least ``min_count`` times is removed from EVERY document, and each
    document's surviving lines are re-joined in their original order.
    Per-document dedup can't see this: navigation menus, cookie banners,
    and licence lines repeat across millions of pages while appearing
    once per page.  Whitespace-only lines never count and are never
    removed (they carry paragraph structure).  Adds ``n_removed_lines``;
    ``text_col`` is rewritten in place.

    100 TB shape: lines explode map-side; the duplicated-line set comes
    from ONE count-by-line shuffle (heavy boilerplate keys collapse in
    the map-side partial aggregate, so a billion-occurrence cookie
    banner is safe); membership is a line-keyed join (shuffle join both
    sides — the dup-line set is corpus-scale, NOT broadcastable; the key
    is the trimmed line itself, which Spark hash-partitions, so matching
    is exact rather than hash-lossy); reassembly is one groupBy(doc).
    Nothing is ever all-pairs and no driver-side state exists.
    """
    lines = corpus.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "__pos", "__line"
        ),
    ).withColumn("__k", F.trim(F.col("__line")))
    # NOTE (r13): the remove_shared_spans repartition-to-share-the-
    # exchange trick was measured here and REJECTED — the line explode
    # is too cheap for the saved re-evaluation to beat the added AQE
    # stage barrier (A/B min-of-4 at sf0.1: 0.867 s vs 0.831 s plain).
    # NOTE (r14): spread_small_scan on the corpus was likewise measured
    # and REJECTED (0.699 s spread vs 0.508 s plain, interleaved min-of-4
    # — same reason).
    dup = (
        lines.filter(F.col("__k") != "")
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__k")
    )
    kept = lines.join(
        dup.withColumn("__dup", F.lit(True)), "__k", "left"
    ).withColumn(
        "__keep", F.col("__dup").isNull() | (F.trim(F.col("__line")) == "")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"), F.struct("__pos", "__line")
                        )
                    )
                ),
                lambda s: s["__line"],
            ),
        ).alias("__new_text"),
        F.sum(F.when(~F.col("__keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed_lines"),
    )
    out = (
        corpus.join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col("__new_text"), F.col(text_col)))
        .drop("__new_text")
        .withColumn(
            "n_removed_lines",
            F.coalesce(F.col("n_removed_lines"), F.lit(0)).cast("long"),
        )
    )
    if drop_empty_docs:
        out = out.filter(F.trim(F.col(text_col)) != "")
    return out


def _semantic_cells(
    corpus: DataFrame, vec_col: str, id_col: str, n_cells: int, seed: int
):
    """Train coarse k-means centroids (similarity.py's bounded-sample,
    partition-independent trainer) and assign every row to its nearest
    cell — the clustering half of SemDeDup.  Returns ``(centroids,
    assigned)`` where assigned is ``(id_col, __cv, cell)``."""
    from iceberg_ruby_spark.operators.similarity import (
        _train_centroids,
        ivf_assign,
    )

    centroids = _train_centroids(
        corpus, vec_col, max(n_cells, 1), seed=seed, id_col=id_col
    )
    return centroids, ivf_assign(centroids, corpus, id_col=id_col, vec_col=vec_col)


def _within_cell_pairs(
    assigned: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    # Per-cell BLAS gram matrix instead of a cell self-join with a
    # per-pair higher-order-lambda dot (guide §4.2): the join form
    # enumerated every same-cell pair as a ROW and evaluated an
    # interpreted zip_with/aggregate walk over 2·dim elements per pair —
    # measured 1.01 s of the 1.15 s stage at sf0.1 (the same join with
    # the dot removed ran 0.13 s).  One applyInPandas per cell computes
    # all pair cosines as tiled numpy matmuls: 0.26 s, identical output
    # (exceptAll empty both directions).  Shuffle is also HALVED — the
    # groupBy ships each row once where the self-join shipped both
    # sides.  Memory stays bounded: the scores matrix is computed in row
    # tiles sized to ~32M doubles, and the per-task residency (one
    # cell's vectors) matches what the old shuffled-hash join's build
    # side already held.  Only a ±1e-7 margin PRE-filter runs in numpy;
    # the authoritative round(·, 6) ≥ threshold filter and the pair
    # orientation stay in Spark expressions, so emitted values are
    # computed exactly as before.
    import numpy as np
    import pandas as pd

    id_type = {f.name: f.dataType.simpleString() for f in assigned.schema.fields}[
        id_col
    ]
    out_schema = (
        f"id_a {id_type}, id_b {id_type}, __rawcos double, cell int"
    )
    margin = float(threshold) - 1e-7

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pdf[id_col][:0], "id_b": pdf[id_col][:0],
             "__rawcos": pd.Series([], dtype="float64"),
             "cell": pd.Series([], dtype="int32")}
        )
        n = len(pdf)
        if n < 2:
            return empty
        x = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["__cv"]]
        )
        ids = pdf[id_col].to_numpy()
        norms = np.sqrt((x * x).sum(axis=1))
        cell = np.int32(pdf["cell"].iloc[0])
        tile = max(1, min(2048, 32_000_000 // n))
        frames = []
        for s in range(0, n, tile):
            with np.errstate(divide="ignore", invalid="ignore"):
                # zero-norm rows yield NaN cosines, which fail the >=
                # filter — the same silent drop the old division had
                g = (x[s : s + tile] @ x.T) / (
                    norms[s : s + tile, None] * norms[None, :]
                )
            ii, jj = np.nonzero(g >= margin)
            keep = (s + ii) < jj  # upper triangle: each pair once
            if not keep.any():
                continue
            frames.append(
                pd.DataFrame(
                    {"id_a": ids[s + ii[keep]], "id_b": ids[jj[keep]],
                     "__rawcos": g[ii[keep], jj[keep]],
                     "cell": cell}
                )
            )
        return pd.concat(frames) if frames else empty

    raw = assigned.groupBy("cell").applyInPandas(_cell_pairs, out_schema)
    # orientation by id VALUE (the old a<b join filter): equal-id pairs
    # drop exactly as before, reversed ones swap
    return (
        raw.filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.round(F.col("__rawcos"), 6).alias("cosine"),
            F.col("cell").cast("int").alias("cell"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_cells: int = 16,
    seed: int = 42,
    allow_single_cell: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space into ``n_cells``
    Voronoi cells, then enumerate pairs with cosine ≥ ``threshold``
    WITHIN each cell only.  Returns ``(id_a < id_b, cosine, cell)``.

    100 TB shape: pair enumeration is one equality join on the cell id —
    quadratic only in per-cell population, which the operator controls
    via ``n_cells`` (pick ~N/5000 cells so cells stay re-rankable); the
    centroid table is trained on a ≤4096-row partition-independent sample
    and rides the assignment UDF's closure.  Cross-cell near-dups are
    the approximation SemDeDup accepts; ``n_cells=1`` is the exact
    all-pairs path and, being quadratic, requires
    ``allow_single_cell=True`` (same opt-in posture as
    ``embedding_cosine_pairs``)."""
    if n_cells <= 1 and not allow_single_cell:
        raise InvalidDataError(
            "semantic_dedup with n_cells<=1 enumerates ALL pairs "
            "(quadratic); pass allow_single_cell=True to opt in on a "
            "bounded slice, or keep n_cells>1 for the celled scale path"
        )
    _, assigned = _semantic_cells(corpus, vec_col, id_col, n_cells, seed)
    return _within_cell_pairs(assigned, id_col, threshold)


def semantic_dedup(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_cells: int = 16,
    seed: int = 42,
    keep: str = "min_id",
    allow_single_cell: bool = False,
) -> DataFrame:
    """SemDeDup applied: reduce every semantic near-dup family (the
    transitive closure of :func:`semantic_dedup_pairs`) to ONE surviving
    document.  ``keep='min_id'`` keeps the smallest id (deterministic,
    oracle-checkable); ``keep='far_from_centroid'`` keeps the member
    LEAST similar to its cell centroid — the SemDeDup paper's policy
    (peripheral examples preserve diversity), ties by smallest id.

    Components and loser lists are pair-output-sized
    (:func:`connected_components` / :func:`apply_dedup`); the
    centroid-similarity quality column is one map-side expression against
    the broadcast centroid literal — no extra shuffle beyond apply_dedup's
    own."""
    from iceberg_ruby_spark.operators.similarity import _dot, _norm

    if keep not in ("min_id", "far_from_centroid"):
        raise InvalidDataError(
            f"semantic_dedup keep={keep!r}: expected 'min_id' or "
            "'far_from_centroid'"
        )
    if n_cells <= 1 and not allow_single_cell:
        raise InvalidDataError(
            "semantic_dedup with n_cells<=1 enumerates ALL pairs "
            "(quadratic); pass allow_single_cell=True to opt in on a "
            "bounded slice, or keep n_cells>1 for the celled scale path"
        )
    centroids, assigned = _semantic_cells(corpus, vec_col, id_col, n_cells, seed)
    pairs = _within_cell_pairs(assigned, id_col, threshold)
    if keep == "min_id":
        return apply_dedup(corpus, pairs, id_col=id_col)
    from iceberg_ruby_spark.operators.similarity import ivf_assign

    # centroid-similarity quality via a BROADCAST join against the (tiny)
    # centroid table — a literal array-of-arrays expression would bloat
    # the plan at large n_cells (4096 cells × dim literals per evaluation)
    cent_df = small_local_df(
        corpus.sparkSession,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, __cent array<double>",
    )
    centroid_cos = _dot(F.col("__cv"), F.col("__cent")) / (
        _norm(F.col("__cv")) * _norm(F.col("__cent"))
    )
    # quality is consulted only for COMPONENT MEMBERS (apply_dedup ranks
    # within clusters; docs in no pair pass through untouched), so the
    # centroid-similarity column is computed for members only — the old
    # form attached it to the WHOLE corpus (a second full-corpus
    # assignment pass — scan + Arrow UDF — beyond the one the pair stage
    # already runs) and the returned frame dropped the column anyway.
    # apply_dedup hands the member-id frame (the already-materialized
    # components output) to this callback.
    def _member_quality(member_ids: DataFrame) -> DataFrame:
        members = corpus.join(F.broadcast(member_ids), id_col, "left_semi")
        return (
            ivf_assign(centroids, members, id_col=id_col, vec_col=vec_col)
            .join(F.broadcast(cent_df), "cell")
            .select(F.col(id_col), (-centroid_cos).alias("__centroid_far"))
        )

    return apply_dedup(
        corpus,
        pairs,
        id_col=id_col,
        quality_col="__centroid_far",
        quality_fn=_member_quality,
    )


def remove_shared_spans(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 50,
    min_count: int = 2,
    keep_first: bool = True,
    drop_empty_docs: bool = False,
) -> DataFrame:
    """ExactSubstr-style duplicated-SPAN removal (Lee et al. 2021,
    arXiv:2107.06499 — "Deduplicating Training Data Makes Language Models
    Better"): every token position covered by a word ``ngram``-gram that
    occurs ≥ ``min_count`` times corpus-wide is cut, and each document is
    re-assembled from its surviving tokens in order.  With ``keep_first``
    (the paper's keep-one-copy posture) the lexicographically first
    occurrence of each duplicated gram — min (doc id, position) — is
    exempt from coverage, so one copy of the span survives; a position in
    that copy can still fall to a DIFFERENT duplicated gram whose first
    occurrence lies elsewhere (well-defined, documented).  Removal
    counterpart to :func:`shared_span_stats`; tokens are whitespace-split
    and re-joined with single spaces in rewritten documents (untouched
    documents keep their text verbatim).

    100 TB shape: the paper's suffix array is replaced by ONE
    count-by-gram-hash shuffle — the group key is a 128-bit xxhash64 pair
    (8+8 bytes instead of ~ngram×6-byte strings; two independently
    seeded 64-bit halves make collisions negligible at trillion-gram
    scale), with map-side partial aggregation collapsing boilerplate
    grams.  Coverage and reassembly are per-doc interval math over the
    hit-window STARTS (:func:`_remove_hit_windows`) — one output-sized
    aggregate, never a per-position explode.  Never all-pairs, nothing
    driver-side."""
    toks_arr = F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda t: t != "",
    )
    # NOTE (r14): spread_small_scan was measured here and REJECTED — the
    # token-split + gram-concat work is too cheap for the gained
    # parallelism to beat the added exchange + AQE stage barrier
    # (interleaved A/B min-of-4 at sf0.1: 1.113 s spread vs 1.014 s plain
    # for dedup_remove_spans).  The minhash shingle path, whose per-row
    # work is ~10× heavier (k=64 affine mins per shingle), keeps it.
    base = corpus.select(F.col(id_col), toks_arr.alias("__toks"))
    # one gram per start position (positional, NOT distinct — occurrence
    # counts and first-occurrence identity both need every window)
    starts = F.when(
        F.size("__toks") >= ngram,
        F.sequence(F.lit(0), F.size("__toks") - ngram),
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        base.select(F.col(id_col), F.col("__toks"), F.explode(starts).alias("pos"))
        .select(
            F.col(id_col),
            "pos",
            F.concat_ws(
                " ", F.slice(F.col("__toks"), F.col("pos") + 1, F.lit(ngram))
            ).alias("__g"),
        )
    ).select(
        F.col(id_col),
        "pos",
        F.xxhash64("__g").alias("__h1"),
        F.xxhash64(F.concat(F.lit("s2\x00"), F.col("__g"))).alias("__h2"),
    )
    # ONE exchange feeds both consumers (r13): `grams` (the scan → token
    # split → per-position 50-token concat → 2×xxhash64 subtree) used to
    # be evaluated TWICE — once under the count aggregate, once as the
    # join probe — because the two consumers' exchanges carried different
    # payloads (partial-agg rows vs gram rows) and could not be deduped.
    # Repartitioning the gram rows by the 128-bit key FIRST gives both
    # consumers the IDENTICAL exchange, which AQE's runtime stage reuse
    # materializes once (the minhash band-join mechanism — the static
    # explain still prints both subtrees; the dedup happens at stage
    # submission).  Total shuffled bytes strictly shrink: the old shape
    # shipped full gram rows for the join side anyway PLUS the
    # partial-aggregated count rows; skew exposure is unchanged (a
    # boilerplate gram's rows always landed on one join reducer).
    # Stash-interleaved A/B at sf0.1, min-of-4 BOTH orders:
    # 1.51/1.52 s → 1.19/1.12 s.
    grams = grams.repartition(F.col("__h1"), F.col("__h2"))
    dup = (
        grams.groupBy("__h1", "__h2")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias(
                "__first"
            ),
        )
        .filter(F.col("__n") >= min_count)
    )
    hit = grams.join(dup, ["__h1", "__h2"])
    if keep_first:
        hit = hit.filter(
            ~(
                (F.col(id_col) == F.col("__first.i"))
                & (F.col("pos") == F.col("__first.p"))
            )
        )
    return _remove_hit_windows(
        corpus, hit.select(F.col(id_col), "pos"), text_col, id_col, ngram,
        drop_empty_docs,
    )


def _remove_hit_windows(
    corpus: DataFrame,
    hits: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int,
    drop_empty_docs: bool,
) -> DataFrame:
    """Cut every token position covered by a hit window ``[pos,
    pos+ngram)`` out of the corpus and re-assemble touched documents in
    order — the shared tail of :func:`remove_shared_spans` and
    :func:`decontaminate_spans`.  ``hits`` is one (id, pos) row per hit
    window START.  Untouched documents keep their text verbatim.

    All windows share one length, so per doc the sorted starts have
    monotone window ends and the kept tokens are exactly the gap slices
    between consecutive windows — linear JVM array math from ONE
    output-sized aggregate (collect the starts) plus ONE corpus join.
    Replaces the r12 shape (per-position coverage explode → distinct →
    token-row semi/anti joins → sort-reassembly aggregate), which
    shuffled corpus-TOKEN-sized frames four times; at 100 TB those token
    rows are the corpus ×8-ish in row count, and every one of them
    crossed the wire.  Overlapping windows clamp to empty gap slices;
    duplicate starts degrade to an empty gap the same way, so the math
    is insensitive to hit multiplicity."""
    starts_per_doc = hits.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("__starts")
    )
    toks_arr = F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda t: t != "",
    )
    # gap i spans [gap_start_i, gap_end_i): before each window start,
    # nothing past the PREVIOUS window's end is covered (ends monotone)
    gap_starts = F.concat(
        F.array(F.lit(0)),
        F.transform("__starts", lambda s: s + F.lit(ngram)),
    )
    gap_ends = F.concat(F.col("__starts"), F.array(F.size("__toks")))
    kept = F.flatten(
        F.zip_with(
            gap_starts,
            gap_ends,
            lambda gs, ge: F.slice(
                F.col("__toks"), gs + 1, F.greatest(ge - gs, F.lit(0))
            ),
        )
    )
    touched = F.col("__starts").isNotNull()
    out = (
        corpus.join(starts_per_doc, id_col, "left")
        .withColumn("__toks", F.when(touched, toks_arr))
        .withColumn("__kept", F.when(touched, kept))
        .withColumn(
            "__n_removed",
            F.when(touched, F.size("__toks") - F.size("__kept")),
        )
        .withColumn(
            text_col,
            F.when(
                F.col("__n_removed") > 0, F.concat_ws(" ", F.col("__kept"))
            ).otherwise(F.col(text_col)),
        )
        .withColumn(
            "n_removed_tokens",
            F.coalesce(F.col("__n_removed"), F.lit(0)).cast("long"),
        )
        .drop("__starts", "__toks", "__kept", "__n_removed")
    )
    if drop_empty_docs:
        out = out.filter(F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > 0)
    return out


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 13,
    drop_empty_docs: bool = False,
) -> DataFrame:
    """Span-level benchmark decontamination: instead of dropping whole
    contaminated documents (:func:`decontaminate`), CUT the token spans
    that overlap a benchmark ``ngram``-gram and keep the rest of the
    document — the surgical variant production pipelines prefer when a
    long document contains one quoted eval question.  Matching is
    case-folded (the GPT-3 13-gram rule); removal operates on the
    original tokens, re-joined with single spaces in touched documents.
    Adds ``n_removed_tokens``.

    100 TB shape: the benchmark's distinct grams BROADCAST; the corpus's
    positional grams probe them map-side — the corpus is NEVER shuffled
    to find contamination; only contaminated docs' (pos, token) rows
    reach the reassembly aggregate."""
    bench_grams = benchmark.select(
        F.explode(token_shingle_array(text_col, ngram)).alias("__g")
    ).distinct()
    toks_arr = F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda t: t != "",
    )
    # NOTE (r14): spread_small_scan was measured here and REJECTED — the
    # token-split + gram-concat work is too cheap for the gained
    # parallelism to beat the added exchange + AQE stage barrier
    # (interleaved A/B min-of-4 at sf0.1: 1.113 s spread vs 1.014 s plain
    # for dedup_remove_spans).  The minhash shingle path, whose per-row
    # work is ~10× heavier (k=64 affine mins per shingle), keeps it.
    base = corpus.select(F.col(id_col), toks_arr.alias("__toks"))
    starts = F.when(
        F.size("__toks") >= ngram,
        F.sequence(F.lit(0), F.size("__toks") - ngram),
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        base.select(F.col(id_col), F.col("__toks"), F.explode(starts).alias("pos"))
        .select(
            F.col(id_col),
            "pos",
            F.lower(
                F.concat_ws(
                    " ", F.slice(F.col("__toks"), F.col("pos") + 1, F.lit(ngram))
                )
            ).alias("__g"),
        )
    )
    hit = grams.join(F.broadcast(bench_grams), "__g")
    return _remove_hit_windows(
        corpus, hit.select(F.col(id_col), "pos"), text_col, id_col, ngram,
        drop_empty_docs,
    )
