"""MinHash signatures + LSH banding for blocking (SURVEY.md §2.A A7–A8).

Everything is built-in Column expressions — `hash(shingle, seed)` per
permutation, `array_min` over the shingle array, `hash(slice(sig))`
per band — so signature computation stays inside whole-stage codegen
(no Python).  At 10^12-file scale this is a narrow map over the
(already small) distinct-name frame; the only shuffle is the band
groupBy, whose keys are uniform by construction (hash values).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalized(name: Column) -> Column:
    """Case/punct-insensitive surface form: lower + strip non-alnum."""
    return F.regexp_replace(F.lower(name), "[^a-z0-9]", "")


def shingles(norm: Column, k: int = 3) -> Column:
    """Character k-shingles as array<string> (JVM-side via transform).

    Names shorter than ``k`` are padded with ``_`` so they still get
    one shingle (mirrors link.py's ``_shingle_set`` ljust).  NOTE:
    Spark's ``rpad(s, k, p)`` TRUNCATES strings longer than ``k`` —
    padding must be conditional (r04 bug: unconditional rpad collapsed
    EVERY name to its first trigram, which degraded LSH to
    first-3-chars blocking and, past ``max_bucket`` distinct names,
    capped every bucket and returned an empty candidate graph)."""
    padded = F.when(F.length(norm) < k, F.rpad(norm, k, "_")).otherwise(norm)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(padded) - (k - 1)),
            lambda i: padded.substr(i, F.lit(k)),
        )
    )


MERSENNE31 = (1 << 31) - 1


def hashed_shingles(shingle_col: Column) -> Column:
    """Hash each shingle string ONCE into the 31-bit range — the input
    to the affine minhash permutations."""
    return F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE31)))


def _perm_coeffs(n_hashes: int) -> tuple[list[int], list[int]]:
    a = [(((2 * i + 1) * 2654435761) % MERSENNE31) or 1 for i in range(n_hashes)]
    b = [(i * 40503 + 2531011) % MERSENNE31 for i in range(n_hashes)]
    return a, b


def minhash_signature(hashed_col: Column, n_hashes: int = 64) -> Column:
    """n permutations over pre-hashed shingles: sig[i] =
    min (a_i * h + b_i) mod p.

    Implementation note: a pure-Column version (n × transform/array_min)
    blows past the whole-stage-codegen method-size limit at n=64 and
    falls back to interpreted evaluation (~2.6 ms/row measured).  The
    numpy pandas-UDF below does the same math as one (shingles × n)
    broadcast per Arrow batch — ~100× faster, still deterministic.
    31-bit h and a keep ``h*a + b`` < 2^62 (no int64 overflow).
    """
    a_np_list, b_np_list = _perm_coeffs(n_hashes)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(hs: pd.Series) -> pd.Series:
        a = np.asarray(a_np_list, dtype=np.uint64)
        b = np.asarray(b_np_list, dtype=np.uint64)
        out = []
        empty = np.full(n_hashes, MERSENNE31, dtype=np.int64)
        for arr in hs:
            if arr is None or len(arr) == 0:
                out.append(empty)
                continue
            h = np.asarray(arr, dtype=np.uint64)[:, None]  # (s, 1)
            sig = ((h * a + b) % MERSENNE31).min(axis=0).astype(np.int64)
            out.append(sig)
        return pd.Series(out)

    return _sig(hashed_col)


def minhash_signature_from_words(
    wh_col: Column, n_hashes: int = 64, shingle_n: int = 3
) -> Column:
    """Fused shingle-combine + minhash over a word-hash array column:
    the word-n-gram shingle hashes are formed in numpy (rolling affine
    combine of adjacent word hashes) and immediately reduced to the
    n-permutation min — a single Arrow stage, no shingle arrays ever
    cross the JVM/Python boundary.

    Catalyst's ProjectCollapse otherwise inlines a bound word-hash
    array into every element_at of a Column-level shingle combine,
    which re-materializes the array per element (O(words²), measured
    ~30s on 5k docs vs ~4s for this fused path).
    """
    a_np_list, b_np_list = _perm_coeffs(n_hashes)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(wh: pd.Series) -> pd.Series:
        a = np.asarray(a_np_list, dtype=np.uint64)
        b = np.asarray(b_np_list, dtype=np.uint64)
        out = []
        empty = np.full(n_hashes, MERSENNE31, dtype=np.int64)
        for arr in wh:
            if arr is None or len(arr) < shingle_n:
                out.append(empty)
                continue
            h = np.asarray(arr, dtype=np.uint64)
            acc = h[: len(h) - shingle_n + 1].copy()
            for k in range(1, shingle_n):
                acc = (acc * 8191 + h[k : len(h) - shingle_n + 1 + k]) % MERSENNE31
            sh = np.unique(acc)[:, None]
            sig = ((sh * a + b) % MERSENNE31).min(axis=0).astype(np.int64)
            out.append(sig)
        return pd.Series(out)

    return _sig(wh_col)


def band_hashes(sig: Column, bands: int, rows: int) -> Column:
    """Split the signature into ``bands`` bands of ``rows`` values and
    hash each band → array<int> of length ``bands``."""
    return F.array(*[F.hash(F.slice(sig, i * rows + 1, rows)) for i in range(bands)])


def candidate_pairs(
    names: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int = 64,
    stats: dict | None = None,
    materialize: bool = True,
) -> DataFrame:
    """LSH blocking: ids sharing any band bucket → candidate pairs
    DF[id_a, id_b, name_a, name_b] with id_a < id_b.

    ``materialize=False`` returns the fully-lazy plan and defers the
    bucket-cap Observation: the caller receives it in
    ``stats['_lsh_obs']`` and must resolve it (see
    :func:`resolve_lsh_stats`) after its own first action over the
    pair frame — used by build_component_map, whose connected-
    components stage materializes the pipeline one step later anyway.

    ``max_bucket`` caps degenerate buckets (hub surface forms): buckets
    larger than the cap are dropped rather than exploding quadratically.
    The drop is NEVER silent (SURVEY.md §7 "no silent truncation"; the
    r03 incident was this exact cap silently emptying the match graph):
    pass ``stats`` and it receives ``lsh_dropped_rows`` (exploded
    (id, band) rows in over-cap buckets), ``lsh_dropped_buckets`` and
    ``lsh_max_bucket_seen`` — measured by ``observe()`` on the same
    single pass that the cap filter runs in (zero extra jobs).
    """
    from pyspark.sql import Observation

    rows = n_hashes // bands
    sig = (
        names.select(
            F.col(id_col).alias("id"),
            F.col(name_col).alias("name"),
            hashed_shingles(shingles(normalized(F.col(name_col)), shingle_k)).alias("hs"),
        )
        .withColumn("sig", minhash_signature(F.col("hs"), n_hashes))
        .select(
            "id", "name",
            F.posexplode(band_hashes(F.col("sig"), bands, rows)).alias("band_id", "band_hash"),
        )
    )
    # ONE groupBy shuffle builds the bucket member arrays; in-bucket
    # pairs are expanded with JVM array expressions (r06).  The old
    # shape — window count + eager checkpoint + bucket self-join —
    # paid a sort on the window, a blocking checkpoint job, and a
    # second pass over the exploded frame; the bucket arrays are
    # bounded by ``max_bucket``, so the expansion is at most
    # cap·(cap−1)/2 pairs per bucket and the pair SET is identical.
    # The cap stays observable on the same single pass (SURVEY.md §7
    # "no silent truncation").
    dropped = F.col("bn") > max_bucket
    obs = Observation("lsh_bucket_cap")
    buckets = (
        sig.groupBy("band_id", "band_hash")
        .agg(F.collect_list(F.struct("id", "name")).alias("bs"))
        .withColumn("bn", F.size("bs"))
        .observe(
            obs,
            F.sum(F.when(dropped, F.col("bn")).otherwise(0)).alias("dropped_rows"),
            F.sum(F.when(dropped, 1).otherwise(0)).alias("dropped_buckets"),
            F.max("bn").alias("max_bucket_seen"),
        )
        .where(~dropped)
    )
    bs = F.col("bs")
    pair_arr = F.flatten(
        F.transform(
            bs,
            lambda x, i: F.transform(
                F.slice(bs, i + 2, F.greatest(F.size(bs), F.lit(1))),
                lambda y: F.when(
                    x["id"] < y["id"], F.struct(x.alias("a"), y.alias("b"))
                ).otherwise(F.struct(y.alias("a"), x.alias("b"))),
            ),
        )
    )
    out = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(
            F.col("p.a.id").alias("id_a"),
            F.col("p.b.id").alias("id_b"),
            F.col("p.a.name").alias("name_a"),
            F.col("p.b.name").alias("name_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if not materialize:
        if stats is not None:
            stats["_lsh_obs"] = obs
        return out
    # materialize the (tiny) PAIR frame: one job resolves the
    # Observation synchronously for the stats contract below AND hands
    # downstream consumers (scorer, connected components — both
    # traverse the pairs at least twice) a cached frame instead of a
    # re-run of the Arrow minhash pipeline
    out = out.localCheckpoint(eager=True)
    if stats is not None:
        stats["_lsh_obs"] = obs
        resolve_lsh_stats(stats)
    return out


def resolve_lsh_stats(stats: dict) -> None:
    """Read the bucket-cap Observation into the plain stat keys.  Must
    run after an action has executed the observed plan (the eager pair
    checkpoint above, or the caller's own materialization when
    ``materialize=False``)."""
    obs = stats.pop("_lsh_obs", None)
    if obs is None:
        return
    got = obs.get
    stats["lsh_dropped_rows"] = int(got["dropped_rows"] or 0)
    stats["lsh_dropped_buckets"] = int(got["dropped_buckets"] or 0)
    stats["lsh_max_bucket_seen"] = int(got["max_bucket_seen"] or 0)
