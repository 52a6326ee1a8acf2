"""Deduplication operators for training-data pipelines.

Spark-first designs, all shuffle-conscious:

- exact: hash-groupBy on a normalized fingerprint (one shuffle).
- MinHash + LSH: shingle → k minhashes (one pandas-UDF pass) → band buckets
  → candidate pairs via a self-join ON THE BAND KEY (never all-pairs) →
  exact-jaccard verification of candidates only. At 100 TB the band join is
  the only shuffle and its keys are uniformly distributed by construction.
- SimHash: 64-bit hyperplane-free simhash from token hashes (pandas UDF,
  numpy bit ops); near-dups = identical simhash band keys.
- n-gram Jaccard: exact pairwise similarity via shingle explode + join on
  shingle + group-by-pair — SQL-expressible (the DuckDB oracle runs the same
  algebra). A frequent-shingle cap bounds join fan-out (skew guard).
- embedding cosine near-dup: see similarity.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moonlink_spark.functions.text import normalize_text

_MERSENNE = (1 << 61) - 1


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of exact duplicates (normalized text) with member ids."""
    return (
        df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("__norm"))
        .groupBy("__norm")
        .agg(F.count("*").alias("n"), F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.col("n") > 1)
        .select(F.col("ids")[0].alias("keep_id"), "n", "ids")
    )


def word_shingles(text_col, n: int = 3):
    """Word n-gram shingle array (built-in functions only)."""
    toks = F.split(F.trim(F.lower(text_col)), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )


def minhash_coeffs(num_hashes: int = 64, seed: int = 42) -> tuple[list[int], list[int]]:
    """The seeded (a, b) permutation coefficients — exposed so an external
    oracle (e.g. the DuckDB contract SQL) can inline the same constants.
    a < 2^30 and shingle hashes < 2^32 keep a*h+b inside int64 in ANY engine."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**30, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, 2**30, size=num_hashes, dtype=np.int64)
    return a.tolist(), b.tolist()


def portable_hash32(col):
    """Engine-portable 32-bit string hash: first 8 hex chars of md5.
    Spark: conv(substr(md5,1,8),16,10); DuckDB: CAST('0x'||substr(md5,1,8)
    AS BIGINT) — identical values, so seeded-hash operators get real SQL
    oracles instead of rows-only checks."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<long>) — one Arrow-batched pass, no shuffle.

    Shingle hashing is the engine-portable md5-derived 32-bit hash (JVM-side
    built-ins); the per-batch minhash fold is fully vectorized numpy over the
    FLATTENED batch (concatenate + minimum.reduceat) — no per-document
    Python loop. sig_i = min over shingles of (a_i*h + b_i) mod (2^61-1),
    all int64-exact in both Spark and DuckDB.
    """
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    return _minhash_from_shingles(shingled, num_hashes, seed)


def _minhash_from_shingles(
    shingled: DataFrame, num_hashes: int, seed: int
) -> DataFrame:
    """(id, sh: array<string> distinct shingles) → (id, sig). The signature
    depends only on the shingle SET, so any ordering of ``sh`` yields the
    same signature."""
    hashed = shingled.select(
        "id", F.transform(F.col("sh"), portable_hash32).alias("shingles")
    )
    a_l, b_l = minhash_coeffs(num_hashes, seed)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a = np.asarray(a_l, dtype=np.int64)[:, None]
        b = np.asarray(b_l, dtype=np.int64)[:, None]
        for pdf in batches:
            lens = np.array([0 if h is None else len(h) for h in pdf["shingles"]])
            n_docs = len(lens)
            if n_docs == 0:
                yield pd.DataFrame({"id": pdf["id"], "sig": []})
                continue
            flat = (
                np.concatenate([np.asarray(h, dtype=np.int64) for h in pdf["shingles"] if h is not None and len(h)])
                if lens.sum()
                else np.empty(0, dtype=np.int64)
            )
            # (num_hashes, total_shingles): one multiply-add-mod for the batch
            m = (a * flat[None, :] + b) % _MERSENNE
            sigs = np.zeros((n_docs, len(a_l)), dtype=np.int64)
            nz = lens > 0
            if nz.any():
                offsets = np.concatenate([[0], np.cumsum(lens[nz])[:-1]])
                mins = np.minimum.reduceat(m, offsets, axis=1)  # (H, nz_docs)
                sigs[nz] = mins.T
            yield pd.DataFrame({"id": pdf["id"], "sig": list(sigs)})

    return hashed.mapInPandas(run, schema="id long, sig array<long>")


def _banded_rep_pairs(
    banded: DataFrame, hot_bucket_cap: int | None = None, what: str = "lsh"
) -> DataFrame:
    """Band-bucket self-join over DISTINCT grouping keys.

    ``banded``: (gk, rep, band, key) — exactly ONE row per (distinct
    grouping key, band). Because identical-key clusters collapsed to one
    row upstream, a viral cluster of c identical hashes contributes 1 row
    per bucket here instead of c — the c²/2-per-band blowup on the
    north-rule's skew-hot phash column cannot happen in this join.

    ``hot_bucket_cap`` bounds the residual regime (many DISTINCT keys
    sharing a band bucket): (band, key) buckets holding more than cap
    distinct keys are dropped from candidate generation. That is a
    COVERAGE cap, never silent — the dropped-bucket count is computed
    (rep-level, cheap) and logged loudly here.

    Returns (gk_a, gk_b, rep_a, rep_b) distinct, rep_a < rep_b.
    """
    if hot_bucket_cap is not None:
        cnt = banded.groupBy("band", "key").agg(F.count("*").alias("__n"))
        dropped = cnt.filter(F.col("__n") > hot_bucket_cap).count()
        if dropped:
            import logging

            logging.getLogger(__name__).warning(
                "%s: hot_bucket_cap=%d dropped %d band bucket(s) from "
                "candidate generation — pairs spanning only those buckets "
                "are NOT reported (coverage cap)",
                what,
                hot_bucket_cap,
                dropped,
            )
        banded = banded.join(
            cnt.filter(F.col("__n") <= hot_bucket_cap).drop("__n"),
            ["band", "key"],
            "left_semi",
        )
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.rep") < F.col("r.rep")),
        )
        .select(
            F.col("l.gk").alias("gk_a"),
            F.col("r.gk").alias("gk_b"),
            F.col("l.rep").alias("rep_a"),
            F.col("r.rep").alias("rep_b"),
        )
        .distinct()
    )


def _sig_digest(sig_col) -> "F.Column":
    """Engine-stable digest of a full minhash signature (grouping key for
    identical-signature collapse)."""
    return F.md5(
        F.concat_ws(",", F.transform(sig_col, lambda x: x.cast("string")))
    )


def _band_key(sig_col, b, rows_per_band: int):
    """md5 bucket of band ``b``'s signature slice (engine-portable — the
    DuckDB oracle reconstructs the identical string)."""
    return F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.slice(sig_col, b * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"),
            ),
        )
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Band the signatures; pairs sharing any band bucket are candidates.

    Skew-safe shape: identical signatures collapse to ONE representative
    before the band self-join (a viral cluster of c identical docs would
    otherwise put c rows in the same bucket of EVERY band — c²/2 join work
    per band); the join runs over distinct signatures only, and identical-
    signature groups expand afterwards (they share every band by
    definition, so every intra-group pair is a candidate). Output is
    identical to the uncollapsed join — the bucket is a function of the
    signature alone. Intra-group expansion is Ω(output) by construction;
    dedup callers use the loser APIs, which never materialize it."""
    keyed = sig_df.select("id", "sig", _sig_digest(F.col("sig")).alias("gk"))
    members = keyed.select("id", "gk")
    uniq = keyed.groupBy("gk").agg(
        F.min("id").alias("rep"), F.first("sig").alias("sig")
    )
    banded = uniq.select(
        "gk",
        "rep",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    _band_key(F.col("sig"), b, rows_per_band).alias("key"),
                ),
            )
        ).alias("bb"),
    ).select("gk", "rep", "bb.band", "bb.key")
    rep_pairs = _banded_rep_pairs(banded, hot_bucket_cap, "lsh_candidate_pairs")
    a = members.select(F.col("gk").alias("gk_a"), F.col("id").alias("_ia"))
    b = members.select(F.col("gk").alias("gk_b"), F.col("id").alias("_ib"))
    cross = (
        rep_pairs.join(a, "gk_a")
        .join(b, "gk_b")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
        )
    )
    x, y = members.alias("x"), members.alias("y")
    intra = x.join(
        y, (F.col("x.gk") == F.col("y.gk")) & (F.col("x.id") < F.col("y.id"))
    ).select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
    # no outer distinct needed: rep_pairs is distinct (one row per group
    # pair), each member belongs to exactly one group, and cross ∩ intra = ∅
    return cross.unionByName(intra)


def exact_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
    max_shingle_freq: int = 10_000,
) -> DataFrame:
    """Exact pairwise word-shingle Jaccard via explode + shingle join.
    ``max_shingle_freq`` drops degenerate shingles shared by huge numbers of
    docs (skew/fan-out guard; logged as a coverage cap by callers)."""
    sh = (
        df.select(
            F.col(id_col).alias("id"), word_shingles(F.col(text_col), shingle_n).alias("sh")
        )
        .select("id", F.explode(F.array_distinct("sh")).alias("s"))
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    freq = sh.groupBy("s").agg(F.count("*").alias("f"))
    sh2 = sh.join(freq.filter(F.col("f") <= max_shingle_freq), "s", "left_semi")
    inter = (
        sh2.alias("a")
        .join(sh2.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


SIMHASH_BITS = 60  # below int64's sign bit so ANY engine reconstructs it


def portable_hash60(col):
    """Engine-portable 60-bit string hash: first 15 hex chars of md5 (keeps
    1 << 59 inside int64 in both Spark and DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash from portable md5-derived token hashes.

    The per-batch fold is fully vectorized over the flattened batch
    (bit-matrix + add.reduceat) — no per-document Python loop. 60 bits (not
    64) so the signature and its SQL oracle reconstruction stay inside
    signed int64 in every engine.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), portable_hash60
        ).alias("th"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(bits, dtype=np.int64)
        for pdf in batches:
            lens = np.array([0 if h is None else len(h) for h in pdf["th"]])
            out = np.zeros(len(lens), dtype=np.int64)
            nz = lens > 0
            if nz.any():
                flat = np.concatenate(
                    [np.asarray(h, dtype=np.int64) for h in pdf["th"] if h is not None and len(h)]
                )
                bitmat = ((flat[:, None] >> shifts[None, :]) & 1).astype(np.int64)
                offsets = np.concatenate([[0], np.cumsum(lens[nz])[:-1]])
                ones = np.add.reduceat(bitmat, offsets, axis=0)  # (docs, bits)
                votes = 2 * ones - lens[nz][:, None]
                out[nz] = ((votes > 0).astype(np.int64) << shifts[None, :]).sum(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "simhash": out})

    return toks.mapInPandas(run, schema="id long, simhash long")


def _hamming_bands(hash_col, band_bits: int, nbands: int):
    """Explodable (band, key) structs: fixed-width bit slices of an int64
    hash — the Hamming-LSH banding shared by simhash and phash."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(hash_col, i * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1))
                    .alias("key"),
                )
                for i in range(nbands)
            ]
        )
    )


def simhash_near_dups(
    sim_df: DataFrame,
    band_bits: int = 15,
    bits: int = SIMHASH_BITS,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup candidates: docs sharing any of the bits/band_bits simhash
    bands (Hamming-distance LSH). Identical simhash values collapse to one
    representative before the band self-join (they share every band, so
    intra-group pairs expand back unconditionally) — a viral cluster of c
    identical docs costs the join one row per bucket, not c²/2 pairs."""
    nbands = bits // band_bits
    members = sim_df.select("id", F.col("simhash").alias("gk"))
    uniq = members.groupBy("gk").agg(F.min("id").alias("rep"))
    banded = uniq.select(
        "gk", "rep", _hamming_bands(F.col("gk"), band_bits, nbands).alias("bk")
    ).select("gk", "rep", "bk.band", "bk.key")
    rep_pairs = _banded_rep_pairs(banded, hot_bucket_cap, "simhash_near_dups")
    a = members.select(F.col("gk").alias("gk_a"), F.col("id").alias("_ia"))
    b = members.select(F.col("gk").alias("gk_b"), F.col("id").alias("_ib"))
    cross = (
        rep_pairs.join(a, "gk_a")
        .join(b, "gk_b")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
        )
    )
    x, y = members.alias("x"), members.alias("y")
    intra = x.join(
        y, (F.col("x.gk") == F.col("y.gk")) & (F.col("x.id") < F.col("y.id"))
    ).select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
    return cross.unionByName(intra)


def phash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    phash_col: str = "phash",
    max_hamming: int = 4,
    band_bits: int = 12,
    bits: int = 60,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Image near-dup pairs over a perceptual hash — Hamming-LSH with a
    COMPLETENESS guarantee, then exact verify.

    ``bits/band_bits`` bands: a pair within ``max_hamming`` differing bits
    touches at most ``max_hamming`` bands, so with ``max_hamming < nbands``
    it matches on >= 1 whole band (pigeonhole) — the band-equality
    self-join generates EVERY qualifying pair without all-pairs work, and
    the verify is pure JVM ``bit_count(a XOR b) <= max_hamming``. This is
    the image-payload analog of ``simhash_near_dups`` (same banded shape);
    phash is the north-rule hot-key column, so band keys inherit its skew —
    callers dedup clusters, they don't join payloads.

    Returns (id_a, id_b, hamming) with id_a < id_b, exact and complete
    (not probabilistic, unlike MinHash banding).

    Skew guard (round 5): phash is the north-rule's hot-key column — a
    viral image cluster means c IDENTICAL phash values. Identical values
    collapse to one representative before the band self-join (distinct
    phash values only), and groups expand back afterwards: intra-group
    pairs have hamming 0 and always qualify, cross-group pairs inherit the
    rep pair's hamming (a function of the two phash values alone). Output
    is identical to the uncollapsed join; the join's per-bucket work drops
    from c² to (distinct values)². The intra expansion is Ω(output) by
    definition — dedup callers use ``_group_losers`` (operators/dedupe.py),
    which never materializes it."""
    members, verified = _phash_rep_pairs(
        df, id_col, phash_col, max_hamming, band_bits, bits, hot_bucket_cap
    )
    a = members.select(F.col("gk").alias("gk_a"), F.col("id").alias("_ia"))
    b = members.select(F.col("gk").alias("gk_b"), F.col("id").alias("_ib"))
    cross = (
        verified.join(a, "gk_a")
        .join(b, "gk_b")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "hamming",
        )
    )
    x, y = members.alias("x"), members.alias("y")
    intra = x.join(
        y, (F.col("x.gk") == F.col("y.gk")) & (F.col("x.id") < F.col("y.id"))
    ).select(
        F.col("x.id").alias("id_a"),
        F.col("y.id").alias("id_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    return cross.unionByName(intra)


def _phash_rep_pairs(
    df: DataFrame,
    id_col: str,
    phash_col: str,
    max_hamming: int,
    band_bits: int,
    bits: int,
    hot_bucket_cap: int | None = None,
):
    """Collapsed core of the phash pipeline. Returns (members, verified):
    members (id, gk=phash); verified (gk_a, gk_b, rep_a, rep_b, hamming)
    rep-level pairs with hamming ≤ max_hamming."""
    nbands = bits // band_bits
    if max_hamming >= nbands:
        raise ValueError(
            f"max_hamming={max_hamming} needs more bands: only {nbands} "
            f"bands of {band_bits} bits — the pigeonhole completeness "
            "guarantee requires max_hamming < bands"
        )
    members = df.select(F.col(id_col).alias("id"), F.col(phash_col).alias("gk"))
    uniq = members.groupBy("gk").agg(F.min("id").alias("rep"))
    banded = uniq.select(
        "gk", "rep", _hamming_bands(F.col("gk"), band_bits, nbands).alias("bk")
    ).select("gk", "rep", "bk.band", "bk.key")
    rep_pairs = _banded_rep_pairs(banded, hot_bucket_cap, "phash_near_dup_pairs")
    verified = rep_pairs.withColumn(
        "hamming",
        F.bit_count(F.col("gk_a").bitwiseXOR(F.col("gk_b"))),
    ).filter(F.col("hamming") <= max_hamming)
    return members, verified


def _verified_rep_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
    min_jaccard: float = 0.0,
    hot_bucket_cap: int | None = None,
):
    """Shared core of the verified MinHash pipeline, collapsed on the
    DISTINCT SHINGLE SET (the exactness-preserving key: equal sets ⇒ equal
    signature AND Jaccard 1, so collapsing changes nothing but the work).

    Returns (members, uniq, verified):
      members  (id, gk)           — gk = md5 digest of the sorted set
      uniq     (gk, rep, sh, sz)  — one row per distinct set
      verified (gk_a, gk_b, rep_a, rep_b, jaccard) — rep-level verified
        pairs; jaccard ≥ min_jaccard, identical for every member pair of
        the two groups (their sets equal the reps').
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_sort(
            F.array_distinct(word_shingles(F.col(text_col), shingle_n))
        ).alias("sh"),
    )
    keyed = sh.select(
        "id", "sh", F.md5(F.concat_ws("\x1f", "sh")).alias("gk")
    )
    members = keyed.select("id", "gk")
    uniq = keyed.groupBy("gk").agg(
        F.min("id").alias("rep"), F.first("sh").alias("sh")
    ).withColumn("sz", F.size("sh"))
    sigs = _minhash_from_shingles(
        uniq.select(F.col("rep").alias("id"), "sh"), num_hashes, seed
    )
    banded = (
        sigs.join(uniq.select(F.col("rep").alias("id"), "gk"), "id")
        .select(
            "gk",
            F.col("id").alias("rep"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        _band_key(F.col("sig"), b, rows_per_band).alias("key"),
                    ),
                )
            ).alias("bb"),
        )
        .select("gk", "rep", "bb.band", "bb.key")
    )
    rep_pairs = _banded_rep_pairs(
        banded, hot_bucket_cap, "verified_near_dup_pairs"
    )
    a = uniq.select(F.col("gk").alias("gk_a"), F.col("sh").alias("sh_a"))
    b = uniq.select(F.col("gk").alias("gk_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = (
        rep_pairs.join(a, "gk_a")
        .join(b, "gk_b")
        .select(
            "gk_a",
            "gk_b",
            "rep_a",
            "rep_b",
            F.round(
                inter / (F.size("sh_a") + F.size("sh_b") - inter), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return members, uniq, verified


def verified_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
    min_jaccard: float = 0.0,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """The scale-correct near-dup pipeline: MinHash LSH candidate pairs →
    exact shingle-Jaccard verification of CANDIDATES ONLY.

    Never materializes all-pairs, and (round 5) never lets a viral cluster
    of identical texts melt the band join: identical shingle SETS collapse
    to one representative before banding/signing/verifying — a 10⁶-member
    duplicate cluster costs the join ONE row per bucket — and groups expand
    back afterwards (intra-group pairs have Jaccard exactly 1 when the set
    is non-empty; empty sets divide 0/0 → NULL and are filtered, matching
    the uncollapsed formula). The verify step uses JVM array_intersect on
    rep sets — O(|A|+|B|) per CANDIDATE pair, no shingle-level join. Fully
    SQL-expressible (exact DuckDB oracle, __spark_entry__.oracle_sql).
    Note the intra expansion is Ω(output); dedup uses the loser APIs,
    which skip it entirely (group-min logic)."""
    members, uniq, verified = _verified_rep_pairs(
        df,
        id_col,
        text_col,
        shingle_n,
        num_hashes,
        bands,
        rows_per_band,
        seed,
        min_jaccard,
        hot_bucket_cap,
    )
    a = members.select(F.col("gk").alias("gk_a"), F.col("id").alias("_ia"))
    b = members.select(F.col("gk").alias("gk_b"), F.col("id").alias("_ib"))
    cross = (
        verified.join(a, "gk_a")
        .join(b, "gk_b")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "jaccard",
        )
    )
    mem2 = members.join(uniq.select("gk", "sz"), "gk")
    x, y = mem2.alias("x"), mem2.alias("y")
    intra = (
        x.join(y, (F.col("x.gk") == F.col("y.gk")) & (F.col("x.id") < F.col("y.id")))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.when(F.col("x.sz") > 0, F.round(F.lit(1.0), 6)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return cross.unionByName(intra)
