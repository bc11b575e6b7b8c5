"""Deduplication operators: exact, normalized, MinHash+LSH, SimHash,
exact n-gram Jaccard, embedding-cosine near-dup.

Design for 100 TB (the reason each shape was chosen):

- **exact**: groupBy on the full text (or a digest) — one shuffle,
  uniform keys (hashes don't skew), map-side combine.
- **MinHash+LSH**: shingle explode → one groupBy(doc) computing the
  whole signature as n_hashes min-aggregates (single shuffle, partial
  aggregation) → band explode → band-bucket self-join (equi join on
  (band, signature-slice), AQE-skew-safe) → distinct pairs. No pairwise
  O(n²) stage ever materializes; cost is data-linear + bucket-local.
- **SimHash**: Arrow-batched pandas_udf computing the 64-bit signature
  (bit-twiddling isn't expressible in SQL functions), then dedup is an
  exact groupBy on the signature or a banded Hamming join.
- **n-gram Jaccard**: exact verification operator — shingle sets,
  shared-count via equi-join on the shingle string, Jaccard from set
  sizes. Quadratic only within identical-shingle buckets.
- **embedding cosine**: see :mod:`similarity`; near-dup = threshold
  variant of the same kernels.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .text import words_col

__all__ = [
    "exact_dedup",
    "normalized_dedup",
    "shingles",
    "minhash_signatures",
    "minhash_signatures_wordcode",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_dedup",
    "ngram_jaccard_pairs",
    "embedding_cosine_pairs",
    "contamination_purge",
    "dedup_against_corpus",
    "minhash_lsh_pairs_cross",
    "duplicated_spans",
    "simhash_wordcode",
    "remove_frequent_segments",
    "remove_frequent_segments_sql",
    "bloom_gated_dedup",
    "embedding_dedup_against_corpus",
]

_MERSENNE31 = 2147483647  # 2^31 - 1


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the smallest id per exact text; report the copy count."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias(id_col), F.count("*").alias("n_copies")
    )


def normalized_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup after lowercase + whitespace collapse + trim."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return (
        df.select(F.col(id_col), norm.alias("norm_text"))
        .groupBy("norm_text")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


def shingles(text_col, k: int = 3):
    """Word k-gram shingles as strings (empty array when < k words)."""
    words = words_col(text_col)
    return F.when(
        F.size(words) < k, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, k)),
        )
    )


def _hash_params(n_hashes: int, seed: int = 42):
    """Deterministic (a, b) pairs for the universal-hash family
    h_i(x) = (a_i * x + b_i) mod (2^31-1)."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE31, size=n_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE31, size=n_hashes, dtype=np.int64)
    return a.tolist(), b.tolist()


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
    method: str = "arrow",
) -> DataFrame:
    """(id, mh_0..mh_{n-1}) MinHash signature.

    ``method="arrow"`` (default): per-partition NumPy kernel via
    mapInPandas — shingle hashes by crc32, permutation minima by
    ``np.minimum.reduceat``; a narrow plan with NO shuffle (the shape
    you want at 100 TB: signatures stream out at scan speed).

    ``method="sql"``: pure built-in functions — shingle explode + one
    groupBy with n min-aggregates (single shuffle, map-side combine).
    Kept as the no-Python-dependency reference; ~3x slower per core on
    this workload because MinHash is min-over-permutations arithmetic,
    which Arrow/NumPy does vectorized."""
    if method == "sql":
        a, b = _hash_params(n_hashes, seed)
        sh = df.select(
            F.col(id_col),
            F.explode(shingles(F.col(text_col), shingle_k)).alias("sh"),
        )
        # base shingle hash: xxhash64 (JVM, codegen) folded into [0, p)
        h = F.pmod(F.xxhash64("sh"), F.lit(_MERSENNE31))
        hashed = sh.select(id_col, h.alias("h"))
        aggs = [
            F.min(
                (F.lit(a[i]) * F.col("h") + F.lit(b[i])) % _MERSENNE31
            ).alias(f"mh_{i}")
            for i in range(n_hashes)
        ]
        return hashed.groupBy(id_col).agg(*aggs)

    import zlib

    a, b = _hash_params(n_hashes, seed)
    a_np = np.array(a, dtype=np.int64)
    b_np = np.array(b, dtype=np.int64)
    out_schema = ", ".join(
        [f"{id_col} long"] + [f"mh_{i} long" for i in range(n_hashes)]
    )

    def kernel(batches):
        for pdf in batches:
            ids, starts, hashes = [], [], []
            for rid, t in zip(pdf[id_col], pdf[text_col]):
                if not t:
                    continue
                ws = t.split(" ")
                if len(ws) < shingle_k:
                    continue
                shs = {
                    " ".join(ws[i : i + shingle_k])
                    for i in range(len(ws) - shingle_k + 1)
                }
                ids.append(rid)
                starts.append(len(hashes))
                hashes.extend(zlib.crc32(s.encode()) for s in shs)
            if not ids:
                continue
            h = np.asarray(hashes, dtype=np.int64) % _MERSENNE31
            starts_np = np.asarray(starts, dtype=np.int64)
            cols = {id_col: np.asarray(ids, dtype=np.int64)}
            for i in range(n_hashes):
                perm = (h * a_np[i] + b_np[i]) % _MERSENNE31
                cols[f"mh_{i}"] = np.minimum.reduceat(perm, starts_np)
            yield pd.DataFrame(cols)

    return df.mapInPandas(kernel, schema=out_schema)


def minhash_signatures_wordcode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature whose shingle hash is ENGINE-INDEPENDENT: a
    base-131 polynomial over the repo's word codes
    (:func:`arrow_zarr_spark.operators.text.word_code_sql` convention)
    instead of crc32/xxhash64, so a SQL oracle (DuckDB) can replay the
    whole signature bit-for-bit with no hash machinery — historically
    the driver-provable form of :func:`minhash_signatures`, which
    stays the production kernel (crc32 shingle hashes have far better
    dispersion; word codes collide on same-length/same-first/last-
    letter words, which costs signature quality, not determinism).
    Since r12 the production kernel is ALSO driver-provable: the
    oracle replays crc32 itself (suite_entries._crc32_sql).

    Scale shape: pure per-row array arithmetic — ``transform`` +
    ``array_distinct`` + ``array_min`` over the words array. A narrow
    whole-stage-codegen projection: NO explode, NO shuffle; signatures
    stream out at scan speed. Docs with fewer than ``shingle_k`` words
    are dropped (they have no shingles), matching the oracle's empty
    shingle set."""
    from .text import word_code_col as wc

    a, b = _hash_params(n_hashes, seed)
    words = words_col(F.col(text_col))

    def shingle_code(i):
        code = F.lit(0).cast("long")
        for j in range(shingle_k):
            code = code * 131 + wc(F.element_at(words, i + F.lit(j)))
        return code % F.lit(_MERSENNE31)

    codes = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (shingle_k - 1)),
            shingle_code,
        )
    )
    def perm_min(ai: int, bi: int):
        # closure, not lambda-default-args: pyspark introspects the
        # lambda's arity to build the HOF, so extra params break it
        return F.array_min(
            F.transform(
                codes,
                lambda c: (F.lit(ai) * c + F.lit(bi)) % F.lit(_MERSENNE31),
            )
        )

    sig_cols = [
        perm_min(int(a[i]), int(b[i])).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return df.filter(F.size(words) >= shingle_k).select(
        F.col(id_col), *sig_cols
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    verify_jaccard: bool = True,
    jaccard_threshold: Optional[float] = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH, optionally
    verified with exact shingle Jaccard.

    Returns (id_a, id_b[, jaccard]) with id_a < id_b."""
    assert n_hashes % bands == 0
    banded = _banded_signatures(
        df, id_col, text_col, n_hashes, bands, shingle_k, seed
    )
    # Materialize the banded signatures once: both sides of the self-
    # join below would otherwise re-run the signature kernel (Catalyst
    # does not reliably reuse the exchange under a self-join), doubling
    # the scan+hash cost — the dominant term at corpus scale. Eager
    # localCheckpoint is ContextCleaner-reclaimed, never cache-pinned.
    banded = banded.localCheckpoint(eager=True)

    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.bid") < F.col("r.bid")),
        )
        .select(F.col("l.bid").alias("id_a"), F.col("r.bid").alias("id_b"))
        .distinct()
    )
    if not verify_jaccard:
        return pairs

    # The candidate set feeds the verifier three times (two id selects
    # for the doc semi-join + the zero-shared outer join). An eager
    # localCheckpoint materializes the signature/band pipeline exactly
    # once and — unlike persist(), whose cache-manager entry is never
    # auto-dropped — is reclaimed by the ContextCleaner as soon as the
    # returned frame is garbage collected, so repeated dedup runs can't
    # accumulate cached candidate sets. (On a real cluster, executor
    # loss invalidates a local checkpoint; a production pipeline that
    # needs fault tolerance should set a reliable checkpoint dir and
    # swap this for checkpoint().)
    pairs = pairs.localCheckpoint(eager=True)
    jac = ngram_jaccard_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        k=shingle_k,
        threshold=0.0,
        candidate_pairs=pairs,
    )
    if jaccard_threshold is not None:
        jac = jac.filter(F.col("jaccard") >= jaccard_threshold)
    return jac


def _band_structs_sql(bands: int, rows_per_band: int) -> str:
    """The banded-signature struct array as ONE SQL string: building it
    column-by-column costs ~6 py4j round trips per band (~0.4 s of
    driver time per call at the default 16x4 — profiled r13); a single
    ``F.expr`` parse is the IDENTICAL expression (integer literal
    band ids, the same ``concat_ws`` auto-casts) in one round trip."""
    return "array(" + ", ".join(
        "struct({bi} as band, concat_ws(',', {cols}) as sig)".format(
            bi=bi,
            cols=", ".join(
                f"`mh_{bi * rows_per_band + r}`"
                for r in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    ) + ")"


def _banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    bands: int,
    shingle_k: int,
    seed: int,
) -> DataFrame:
    """(bid, band, sig) banded MinHash rows — the LSH bucket key."""
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k, seed)
    band_structs = F.expr(_band_structs_sql(bands, rows_per_band))
    return sig.select(
        F.col(id_col).alias("bid"), F.explode(band_structs).alias("bs")
    ).select(
        "bid", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def minhash_lsh_pairs_cross(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Cross-table banded-LSH candidate pairs (id_new, id_corpus) —
    the scale path for :func:`dedup_against_corpus`: instead of an
    exact shingle join, the NEW batch's banded signatures (batch_size x
    bands rows) BROADCAST and the corpus side probes them at scan
    speed — the corpus is never shuffled and never self-joined. Verify
    candidates with exact Jaccard (``ngram_jaccard_pairs`` in
    candidate mode on the union) before acting on them; detection
    probability per pair is 1-(1-J^(n/bands))^bands, so with the
    default 16x4 configuration J >= 0.7 pairs are caught with
    p ≈ 0.988 (and J >= 0.8 with p > 0.999)."""
    assert n_hashes % bands == 0
    bn = _banded_signatures(
        new_df, id_col, text_col, n_hashes, bands, shingle_k, seed
    )
    bc = _banded_signatures(
        corpus_df, id_col, text_col, n_hashes, bands, shingle_k, seed
    )
    return (
        bc.alias("c")
        .join(
            F.broadcast(bn.alias("n")),
            (F.col("c.band") == F.col("n.band"))
            & (F.col("c.sig") == F.col("n.sig")),
        )
        .select(
            F.col("n.bid").alias("id_new"), F.col("c.bid").alias("id_corpus")
        )
        .distinct()
    )


@F.pandas_udf(LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens, vectorized per Arrow batch:
    the batch's token vocabulary is hashed once (two crc32 halves → 64
    bits), the ±1 bit matrix is built per unique token, and per-document
    accumulation is one ``np.add.reduceat`` — no per-character Python."""
    import zlib

    token_lists = [
        (t.split(" ") if t else []) for t in texts
    ]
    starts, flat = [], []
    for toks in token_lists:
        starts.append(len(flat))
        flat.extend(toks)
    if not flat:
        return pd.Series(np.zeros(len(texts), dtype=np.int64))
    flat_arr = np.array(flat, dtype=object)
    # hash-based factorize beats sort-based np.unique ~10x on object
    # arrays; uniq order differs (first-occurrence) but the signature
    # only depends on token->hash, not on vocabulary order
    inv, uniq = pd.factorize(flat_arr)
    h = np.empty(len(uniq), dtype=np.uint64)
    for i, tok in enumerate(uniq):
        b = tok.encode("utf-8")
        h[i] = (zlib.crc32(b) << 32) | zlib.crc32(b + b"#")
    bit_pm = (
        ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1))
        .astype(np.int32)
        * 2
        - 1
    )  # (vocab, 64) of +/-1
    # reduceat quirks: an index equal to len(array) is out of bounds, and
    # equal consecutive starts (empty docs) copy the next row — clip the
    # indices, then zero empty docs explicitly
    idx = np.minimum(np.asarray(starts), len(flat) - 1)
    doc_acc = np.add.reduceat(bit_pm[inv], idx, axis=0)
    lens = np.diff(starts + [len(flat)])
    doc_acc[lens == 0] = 0
    sig_bits = (doc_acc > 0).astype(np.uint64)
    sig = (sig_bits << np.arange(64, dtype=np.uint64)).sum(axis=1)
    return pd.Series(sig.astype(np.int64))


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return df.select(F.col(id_col), _simhash64(F.col(text_col)).alias("simhash"))


def simhash_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical SimHashes (Hamming distance 0). For distance ≤ d
    banding, split the 64 bits into d+1 bands and equi-join per band —
    same LSH shape as MinHash, reusing minhash_lsh_pairs' plan."""
    sig = simhash(df, id_col, text_col)
    return sig.groupBy("simhash").agg(
        F.min(id_col).alias(id_col), F.count("*").alias("n_docs")
    )


def _shingle_shared_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    candidate_pairs: Optional[DataFrame],
):
    """The shared kernel under d04 (Jaccard) and d19 (containment):
    per-doc distinct-shingle sizes plus the shared-shingle count per
    unordered pair (id_a < id_b). Returns ``(sizes, shared)`` —
    sizes (sid, n_sh); shared (id_a, id_b, shared). ONE definition
    so a kernel fix (e.g. a hot-shingle mitigation) lands in both
    scorers at once."""
    base = df.select(
        F.col(id_col).alias("sid"), F.col(text_col).alias("__sh_text")
    )
    if candidate_pairs is not None:
        # Verification mode: shrink to candidate DOCS before the
        # shingle explode — scoring m candidate pairs must cost
        # O(candidate docs), not O(corpus). Filtering whole docs by id
        # commutes with the per-doc explode (identical (sid, sh) rows),
        # but puts the expensive shingle kernel AFTER the broadcast
        # semi-join instead of corpus-wide before it (guide §3.2 —
        # r13: the explode ran over the full corpus and only then was
        # semi-joined down).
        cand_ids = (
            candidate_pairs.select(F.col("id_a").alias("sid"))
            .unionAll(candidate_pairs.select(F.col("id_b").alias("sid")))
            .distinct()
        )
        base = base.join(F.broadcast(cand_ids), "sid", "left_semi")
    sh = base.select(
        "sid",
        F.explode(
            F.array_distinct(shingles(F.col("__sh_text"), k))
        ).alias("sh"),
    )
    if candidate_pairs is not None:
        # The filtered shingle table feeds three subtrees (sizes + both
        # sides of the pair join); it is candidate-docs-sized, so an
        # eager checkpoint beats re-exploding the candidate docs three
        # times.
        sh = sh.localCheckpoint(eager=True)

    # In candidate mode sizes come from the filtered table — a doc's
    # full shingle set survives the semi-join (only whole docs drop),
    # so the counts are identical and the corpus-wide explode is skipped.
    sizes = sh.groupBy("sid").agg(F.count("*").alias("n_sh"))

    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .groupBy(
            F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    if candidate_pairs is not None:
        # outer-join the candidates so a pair with ZERO shared shingles
        # still scores 0 instead of silently vanishing
        shared = candidate_pairs.select("id_a", "id_b").join(
            shared, ["id_a", "id_b"], "left"
        ).withColumn("shared", F.coalesce(F.col("shared"), F.lit(0)))
    return sizes, shared


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.2,
    candidate_pairs: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact word-k-gram Jaccard similarity pairs (id_a < id_b,
    jaccard ≥ threshold, rounded to 6 for deterministic comparison).

    Shared-shingle counting via equi-join on the shingle string: the
    O(n²) blowup is confined to docs sharing a shingle. When
    ``candidate_pairs`` is given (e.g. from LSH), only those pairs are
    scored — the verification path of a dedup pipeline."""
    sizes, shared = _shingle_shared_counts(
        df, id_col, text_col, k, candidate_pairs
    )
    sa = sizes.select(F.col("sid").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("sid").alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    candidate_pairs: Optional[DataFrame] = None,
) -> DataFrame:
    """DIRECTIONAL shingle containment ``|A ∩ B| / |A|`` (d19) — the
    near-SUBSET detector symmetric Jaccard misses: a document quoted
    wholesale inside a much longer one scores J ≈ |A|/|B| (arbitrarily
    low) but containment ≈ 1. The standard second axis of fuzzy dedup
    (Broder's containment, the quote/boilerplate/newswire-wrap case).

    Returns (id_a, id_b, containment): id_a is the CONTAINED document
    — both directions are emitted independently when each clears
    ``threshold``, so a true subset pair yields one row and two
    near-identical docs yield two. Rounded to 6 for deterministic
    comparison (engine-replayable: integer shingle counts + one
    correctly-rounded divide).

    Scale shape: identical to :func:`ngram_jaccard_pairs` — the
    shared-shingle count is computed ONCE per unordered pair via the
    shingle equi-join (confined to docs sharing a shingle; the
    hot-shingle caveat and its LSH mitigation apply the same way),
    then both directions project from that one count.
    ``candidate_pairs`` restricts scoring to a precomputed candidate
    set, unordered (id_a < id_b), same as d04's verification mode."""
    sizes, shared = _shingle_shared_counts(
        df, id_col, text_col, k, candidate_pairs
    )
    both = shared.select("id_a", "id_b", "shared").unionAll(
        shared.select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            "shared",
        )
    )
    sa = sizes.select(F.col("sid").alias("id_a"), F.col("n_sh").alias("n_a"))
    out = both.join(sa, "id_a").select(
        "id_a",
        "id_b",
        F.round(F.col("shared") / F.col("n_a"), 6).alias("containment"),
    )
    return out.filter(F.col("containment") >= threshold)


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Incremental dedup: keep only the NEW batch's documents that are
    not near-duplicates (exact word-k-gram Jaccard >= ``threshold``)
    of anything already in the corpus — the crawl-ingest decision that
    avoids re-deduplicating the whole corpus per batch.

    Scale shape: the new batch is batch-sized, so its distinct shingle
    set broadcasts; the corpus side explodes ONCE and is immediately
    semi-joined down to shingles the batch actually contains — the
    shared-shingle equi-join is therefore bounded by the batch, never
    corpus x corpus. Jaccard here is exact (oracle-verifiable); at
    extreme corpus scale swap the gate for cross-table MinHash banding
    (minhash_lsh_pairs machinery with a side tag) and keep this exact
    scoring as the verify step on its candidates."""
    nsh = new_df.select(
        F.col(id_col).alias("nid"),
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias(
            "sh"
        ),
    )
    csh = corpus_df.select(
        F.col(id_col).alias("cid"),
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias(
            "sh"
        ),
    )
    batch_sh = nsh.select("sh").distinct()
    csh = csh.join(F.broadcast(batch_sh), "sh", "left_semi")
    n_sizes = nsh.groupBy("nid").agg(F.count("*").alias("n_n"))
    # corpus sizes must count the FULL shingle set, not the gated one —
    # compute from the corpus side before gating would re-explode, so
    # derive sizes from a separate narrow aggregation
    c_sizes = corpus_df.select(
        F.col(id_col).alias("cid"),
        F.size(F.array_distinct(shingles(F.col(text_col), k))).alias(
            "n_c"
        ),
    )
    shared = (
        nsh.join(csh, "sh")
        .groupBy("nid", "cid")
        .agg(F.count("*").alias("shared"))
    )
    flagged = (
        shared.join(n_sizes, "nid")
        .join(c_sizes, "cid")
        .filter(
            F.col("shared")
            / (F.col("n_n") + F.col("n_c") - F.col("shared"))
            >= threshold
        )
        .select(F.col("nid").alias(id_col))
        .distinct()
    )
    return new_df.join(flagged, id_col, "left_anti")


def ngram_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: for every corpus document, how
    many of its distinct word ``k``-grams appear anywhere in the
    evaluation set (``n_contaminated``), plus the fraction of the
    document's grams that are contaminated.

    The shape that survives 100 TB: the eval set is benchmark-sized, so
    its distinct gram table broadcasts; the corpus side is one explode
    (scan-bound) + a broadcast LEFT semi-style join + one groupBy on
    the doc id (map-side combine). Docs with zero overlap are kept
    (contamination 0) — silently dropping clean docs would invert the
    operator's meaning."""
    doc_grams = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias(
            "gram"
        ),
    )
    eval_grams = eval_df.select(
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias(
            "gram"
        )
    ).distinct()
    # ONE corpus explode + ONE groupBy: a broadcast LEFT join against
    # the (distinct) eval grams marks each gram row instead of a
    # separate semi-join branch — the r13 two-branch form re-ran the
    # corpus shingle explode for `totals` and paid a second shuffle +
    # outer join to reconcile (guide §2.3). Distinct eval grams can
    # never duplicate a row, so count(*) is the same n_grams and
    # count(__hit) the same n_contaminated, zero-overlap docs
    # included.
    marked = doc_grams.join(
        F.broadcast(eval_grams.withColumn("__hit", F.lit(1))),
        "gram",
        "left",
    )
    return marked.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.count("__hit").alias("n_contaminated"),
    ).select(
        id_col,
        "n_grams",
        "n_contaminated",
        F.round(
            F.col("n_contaminated") / F.col("n_grams"), 6
        ).alias("contamination_frac"),
    )


def contamination_purge(
    corpus: DataFrame,
    blocklist: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Remove every corpus document that shares ANY word ``k``-gram
    with a blocklist corpus (benchmark test sets, opted-out content) —
    the purge counterpart of :func:`ngram_contamination`'s flagging.
    Returns the surviving corpus rows with their original columns.

    Digest-gated anti-join, the shape that survives 100 TB:

    1. the blocklist's distinct shingles reduce to 8-byte ``xxhash64``
       digests, broadcast to every executor (a few MB even for millions
       of blocklist n-grams — the bloom-filter role, with zero false
       negatives by construction);
    2. the corpus explodes to (id, shingle) and probes the broadcast
       digest set — shuffle-free for the clean majority;
    3. only digest *hits* (a ~0 fraction under realistic contamination
       rates) are exact-verified against the blocklist's real shingle
       strings, so a hash collision can never purge a clean document;
    4. the confirmed-contaminated id set (tiny) broadcast-anti-joins
       back against the corpus.

    No shuffle ever carries document text. When contamination is NOT
    rare the confirmed set stops being broadcastable — Spark's AQE
    falls back to a shuffle anti-join on the 8-byte id, still never on
    text."""
    corpus_sh = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias(
            "_sh"
        ),
    )
    block_sh = blocklist.select(
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias(
            "_sh"
        )
    ).distinct()
    block_dig = block_sh.select(F.xxhash64("_sh").alias("_bd")).distinct()
    hits = corpus_sh.join(
        F.broadcast(block_dig),
        F.xxhash64("_sh") == F.col("_bd"),
        "left_semi",
    )
    confirmed = (
        hits.join(block_sh, "_sh", "left_semi").select(id_col).distinct()
    )
    return corpus.join(confirmed, id_col, "left_anti")


def contamination_purge_sql(
    k: int = 5,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    block_pred: str = "source = 'src0'",
) -> str:
    """DuckDB oracle for :func:`contamination_purge` with the blocklist
    carved out of ``table`` by ``block_pred``: NOT EXISTS over the same
    distinct k-gram sets (digests are an execution detail the exact
    verify step erases, so the oracle needs none)."""
    concat = " || ' ' || ".join(
        "ws[i]" if j == 0 else f"ws[i+{j}]" for j in range(k)
    )
    return (
        f"WITH ng AS ("
        f"  SELECT {id_col}, t.ng AS ng FROM ("
        f"    SELECT {id_col}, list_distinct(list_transform("
        f"      range(1, len(ws) - {k - 2}), i -> {concat})) AS ngl"
        f"    FROM (SELECT {id_col}, string_split({text_col}, ' ') AS ws "
        f"          FROM {table} WHERE NOT ({block_pred}))"
        f"  ), UNNEST(ngl) AS t(ng)), "
        f"bl AS (SELECT DISTINCT t.ng AS ng FROM ("
        f"    SELECT list_distinct(list_transform("
        f"      range(1, len(ws) - {k - 2}), i -> {concat})) AS ngl"
        f"    FROM (SELECT string_split({text_col}, ' ') AS ws "
        f"          FROM {table} WHERE {block_pred})"
        f"  ), UNNEST(ngl) AS t(ng)), "
        f"bad AS (SELECT DISTINCT {id_col} FROM ng "
        f"        WHERE ng IN (SELECT ng FROM bl)) "
        f"SELECT * FROM {table} WHERE NOT ({block_pred}) "
        f"AND {id_col} NOT IN (SELECT {id_col} FROM bad)"
    )


def canonical_docs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The keep-list step of a dedup pipeline: collapse near-duplicate
    PAIRS into groups (connected components) and pick one canonical
    document per group — highest :func:`quality_score`, doc id as the
    deterministic tiebreak.

    Output: one row per component with the canonical doc, the member
    count, and the winning quality. Composition of two scale-safe
    operators (label propagation + one window over components); the
    window partitions by component, whose cardinality is the group
    count — no global sort, no skew beyond the largest dup group."""
    from .text import quality_score

    from pyspark.sql import Window

    comp = connected_components(docs, pairs, id_col=id_col)
    quality = quality_score(docs, text_col=text_col).select(
        F.col(id_col), "quality"
    )
    joined = comp.join(quality, id_col)
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col(id_col)
    )
    ranked = joined.select(
        id_col,
        "component",
        "quality",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("component")).alias("n_members"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "component",
            F.col(id_col).alias("canonical_doc_id"),
            "n_members",
            F.col("quality").alias("best_quality"),
        )
    )


#: r14 size gates for connected_components' driver-side fast path:
#: graphs whose node AND pair counts fit these caps are solved with
#: one union-find over two limit-collects instead of the ~4-jobs-per-
#: round label-propagation loop (guide §5 — a dup-group graph this
#: small IS driver metadata; profiled r14: the loop was ~1/3 of
#: fuzzy_dedup_pipeline's job count).
CC_DRIVER_NODES_MAX = 65536
CC_DRIVER_PAIRS_MAX = 262144

#: integer id types for which python's ordering provably matches
#: Spark's (the driver fast path computes min-id representatives in
#: python; strings are excluded — UTF8 binary order vs codepoint
#: order can differ off-ASCII)
_CC_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _cc_driver_components(nodes, pairs, id_col):
    """Size-gated driver twin of the label-propagation loop: returns
    the (id, component) DataFrame, or None when the graph exceeds the
    caps (or ids are not integers) and the distributed loop must run.

    Semantics replicated exactly: components = min NODE id reachable
    through node-only paths — pairs with an endpoint outside ``nodes``
    do not propagate (the loop's labels table never contains them), so
    such pairs are dropped before the union, and every node starts as
    its own singleton component."""
    if CC_DRIVER_NODES_MAX <= 0 or CC_DRIVER_PAIRS_MAX <= 0:
        return None
    id_type = nodes.schema[id_col].dataType
    if id_type.simpleString() not in _CC_INT_TYPES:
        return None
    ids_probe = (
        nodes.select(F.col(id_col).alias("id"))
        .distinct()
        .limit(CC_DRIVER_NODES_MAX + 1)
        .collect()
    )
    if len(ids_probe) > CC_DRIVER_NODES_MAX:
        return None
    pairs_probe = (
        pairs.select("id_a", "id_b")
        .limit(CC_DRIVER_PAIRS_MAX + 1)
        .collect()
    )
    if len(pairs_probe) > CC_DRIVER_PAIRS_MAX:
        return None
    node_ids = sorted(int(r["id"]) for r in ids_probe)
    node_set = set(node_ids)
    parent = {i: i for i in node_ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in pairs_probe:
        a, b = int(r["id_a"]), int(r["id_b"])
        if a not in node_set or b not in node_set:
            continue  # the loop never propagates through non-nodes
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-id representative = the loop's min-label fixpoint
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("component", id_type),
        ]
    )
    spark = nodes.sparkSession
    return spark.createDataFrame(
        [(i, find(i)) for i in node_ids], schema
    )


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 25,
) -> DataFrame:
    """(id, component) where component = min id reachable through the
    pair graph — the transitive-closure step that turns near-dup PAIRS
    into dedup GROUPS (docs in no pair stay singleton components).

    Label propagation: each round every node takes the min label among
    itself and its neighbors; converges in O(diameter) rounds. Each
    round is one equi-join + groupBy — all shuffle-parallel, no driver
    data; rounds are capped and terminate early on fixpoint (the one
    driver-side signal is the per-round change count).

    Metadata-scale graphs (node and pair counts within the
    ``CC_DRIVER_*_MAX`` caps, integer ids) skip the loop: two bounded
    limit-collects feed one driver-side union-find with min-id
    representatives — the same fixpoint, computed without the
    per-round persist/probe job churn (r14, guide §5).

    Raises ``RuntimeError`` when the last of ``max_iterations`` rounds
    still changed a label: those labels are not yet components, and a
    graph that needs more rounds must not pass them off as final."""
    small = _cc_driver_components(nodes, pairs, id_col)
    if small is not None:
        return small
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    edges = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = nodes.select(F.col(id_col).alias("id")).distinct().withColumn(
        "component", F.col("id")
    ).persist()
    prev_cached = labels  # the persisted frame of the previous round
    changed = True  # no round has yet shown a fixpoint
    try:
        for _ in range(max_iterations):
            neighbor_min = (
                edges.join(labels, edges.src == labels.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("component").alias("nbr_min"))
            )
            new_cached = (
                labels.join(neighbor_min, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_min"), F.col("component")),
                    ).alias("component"),
                    (
                        F.coalesce(F.col("nbr_min"), F.col("component"))
                        < F.col("component")
                    ).alias("changed"),
                )
            ).persist()
            # the driver only needs "did ANY label change" — take(1)
            # short-circuits the scan on every non-converged round
            # (most rounds); only the final fixpoint round pays a full
            # pass. Partitions take(1) leaves unmaterialized are safe
            # to fill in after prev's unpersist below: this round's
            # join+groupBy shuffles both inputs, so the map outputs
            # exist on disk and the remaining reduce partitions replay
            # from shuffle files, never from prev's lineage (r13,
            # guide §5.2)
            changed = bool(new_cached.filter("changed").take(1))
            # unpersist the PERSISTED frame, not a derived projection —
            # Spark uncaches by plan identity
            prev_cached.unpersist()
            prev_cached = new_cached
            labels = new_cached.drop("changed")
            if not changed:
                break
        if changed:
            prev_cached.unpersist()
            raise RuntimeError(
                f"connected_components did not converge within "
                f"max_iterations={max_iterations}: labels were still "
                "changing in the last round (raise max_iterations)"
            )
        # Hand back a self-contained result: checkpoint reads the still-
        # warm cache of the final round, then the cache entry is dropped
        # so repeated runs leave nothing pinned in the cache manager
        # (the checkpoint blocks themselves are ContextCleaner-reclaimed
        # once the caller drops the frame).
        final = labels.select(
            F.col("id").alias(id_col), "component"
        ).localCheckpoint(eager=True)
        prev_cached.unpersist()
        return final
    finally:
        edges.unpersist()


def _hyperplane_lsh_params(
    threshold, n_planes, n_tables, target_miss, who
):
    """Auto-derive hyperplane-LSH (planes, tables) from the cosine
    threshold (shared by the self- and cross-table near-dup gates): a
    pair at exactly ``threshold`` collides with one hyperplane with
    probability ``p = 1 - arccos(threshold)/π``; planes per table aim
    a table-match probability ≈ 0.25 and the table count pushes the
    per-pair miss probability below ``target_miss``."""
    import math

    # Degenerate thresholds break the parameter math (threshold >= 1
    # gives p_same = 1 so log(p_same) = 0 and log1p(-p_table) raises;
    # threshold <= -1 gives p_same = 0 so log(p_same) raises) — reject
    # them up front with a message that names the valid range.
    if not -1.0 < threshold < 1.0:
        raise ValueError(
            f"{who}: threshold must be strictly "
            f"inside (-1, 1), got {threshold}. cosine == 1.0 means "
            f"exact duplicates (use exact_dedup on a normalized "
            f"vector); <= -1 matches everything."
        )
    p_same = 1.0 - math.acos(threshold) / math.pi
    if n_planes is None:
        # cap at 62: signatures pack into an int64 via 1 << plane_idx,
        # so 63+ planes would overflow the shift and silently collapse
        # buckets (the output would stay correct through the exact
        # cosine filter, but the gate would degrade to near-all-pairs)
        n_planes = min(62, max(2, int(math.log(0.25) / math.log(p_same))))
    elif n_planes > 62:
        raise ValueError(
            f"n_planes must be <= 62 (int64 signature packing), "
            f"got {n_planes}"
        )
    if n_tables is None:
        p_table = p_same**n_planes
        needed = max(4, math.ceil(math.log(target_miss) / math.log1p(-p_table)))
        n_tables = min(64, needed)
        if needed > 64:
            import warnings

            warnings.warn(
                f"{who}: threshold {threshold} "
                f"needs {needed} tables for per-pair miss <= "
                f"{target_miss}; capped at 64 — recall at the "
                "threshold boundary will be below the target. Pass "
                "n_tables explicitly to override.",
                stacklevel=3,  # through the caller of this helper
            )
    return n_planes, n_tables


def _hyperplane_signatures(
    df, id_col, vec_col, n_planes, n_tables, seed, who
):
    """(sid, tbl, sig) per (row, table): the Arrow-batched signature
    pass of the hyperplane-LSH gates — scan-bound, no shuffle."""
    from .similarity import _planes

    first = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if first is None or first[0] is None:
        raise ValueError(
            f"{who}: input has no row with a "
            f"non-null '{vec_col}' to infer the vector dimension from"
        )
    dim = len(first[0])
    planes_all = np.vstack(
        [_planes(dim, n_planes, t, seed) for t in range(n_tables)]
    )
    spark = df.sparkSession
    b_planes = spark.sparkContext.broadcast(planes_all)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    nt, npl = n_tables, n_planes

    def sig_kernel(batches):
        pl = b_planes.value
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]  # null vectors can't near-dup
            if not len(pdf):
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            bits = (mat @ pl.T) >= 0
            n = len(pdf)
            sigs = (bits.reshape(n, nt, npl) @ weights).astype(np.int64)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "sid": np.repeat(ids, nt),
                    "tbl": np.tile(np.arange(nt, dtype=np.int32), n),
                    "sig": sigs.ravel(),
                }
            )

    return df.mapInPandas(sig_kernel, schema="sid long, tbl int, sig long")


def embedding_lsh_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: Optional[int] = None,
    n_tables: Optional[int] = None,
    seed: int = 42,
    target_miss: float = 1e-6,
) -> DataFrame:
    """Embedding near-dup pairs with an LSH gate: cosine ≥ threshold,
    id_a < id_b — same contract as :func:`embedding_cosine_pairs`, but
    candidates come from a hyperplane-LSH bucket equi-join instead of a
    cross join, so the plan stays data-linear at corpus scale.

    Parameters auto-derive from the threshold when not given: a pair at
    exactly ``threshold`` collides with one hyperplane with probability
    ``p = 1 - arccos(threshold)/π``; planes per table are chosen so a
    table matches the threshold pair with probability ≈ 0.25, and the
    table count so the miss probability per qualifying pair is below
    ``target_miss``. The honest trade-off: at high thresholds (≥ 0.8,
    the realistic near-dup regime) buckets are small and the gate
    prunes hard; at low thresholds collision probability per plane
    approaches 1/2, buckets stay coarse, and the candidate set
    approaches all-pairs — the gate then bounds the join's key space
    but not its output. The exact all-pairs form below remains the
    verifier; this is the registered scale path."""
    from .similarity import cosine_udf

    n_planes, n_tables = _hyperplane_lsh_params(
        threshold, n_planes, n_tables, target_miss,
        "embedding_lsh_neardup_pairs",
    )
    sigs = _hyperplane_signatures(
        df, id_col, vec_col, n_planes, n_tables, seed,
        "embedding_lsh_neardup_pairs",
    )
    # materialize once: both sides of the self-join would otherwise
    # re-run the signature matmul and the corpus scan (same reasoning
    # and same ContextCleaner-reclaimed checkpoint as minhash's banded
    # signatures above)
    sigs = sigs.localCheckpoint(eager=True)
    left, right = sigs.alias("l"), sigs.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.sid") < F.col("r.sid")),
        )
        .select(F.col("l.sid").alias("id_a"), F.col("r.sid").alias("id_b"))
        .distinct()
    )
    # score candidates exactly: re-join the vectors by id (cheaper than
    # dragging dim-wide arrays through n_tables copies of the shuffle);
    # cosine_udf is the Arrow kernel — bit-identical to cosine_expr but
    # vectorized, which matters when the gate yields many candidates
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_udf("va", "vb"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, id_a < id_b.

    Brute-force kernel (exact): higher-order array functions, JVM-side.
    At 100-TB scale, gate this behind LSH bucketing
    (:func:`similarity.hyperplane_lsh_ann`) so the cross product never
    materializes; this exact form is the verifier/baseline."""
    from .similarity import cosine_expr

    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_expr("va", "vb"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    min_count: int = 2,
) -> DataFrame:
    """Exact substring-duplication spans, the suffix-array-style dedup
    of "Deduplicating Training Data Makes Language Models Better"
    (Lee et al., 2022) re-expressed as a k-gram digest pipeline: any
    word k-gram occurring ``min_count``+ times anywhere in the corpus
    marks the words it covers, and runs of marked words merge into
    maximal ``[span_start, span_end]`` intervals per document (word
    positions, 1-based inclusive) that a downstream pass can mask or
    cut. Unlike document-level MinHash (d03/d13), this finds the
    *within-document* duplicated regions — boilerplate headers,
    license blocks, templated passages — even when the documents
    containing them are globally unique.

    The k-gram digest is the engine-independent base-131 polynomial
    over word codes (same convention as
    :func:`minhash_signatures_wordcode`), with the ``% (2^31-1)``
    applied at every accumulation step in BOTH engines — overflow-safe
    for arbitrarily long tokens (base64 blobs, minified lines), so a
    SQL oracle replays the span set bit-for-bit.

    Scale shape (100 TB): the gram stream is (code, doc_id, pos) —
    24-byte rows, no n-gram strings ever materialize, and the word
    codes are computed ONCE per word (a per-row transform) before the
    overlapping k-gram windows read them back as array lookups.
    The stream explodes once behind an eager localCheckpoint — it
    feeds both the occurrence count and the marking join, and
    Catalyst would otherwise re-run the explode per consumer (same
    rationale as :func:`arrow_zarr_spark.operators.text
    .boilerplate_stats`; swap for checkpoint() on a real cluster if
    executor loss must be survivable). Duplicated codes come from a
    groupBy(code) count (map-side combine shrinks hot boilerplate
    keys before the shuffle); the surviving set is orders of
    magnitude smaller than the corpus — broadcast for the semi-join
    (drop the hint and let AQE decide if a pathological corpus made
    it huge). Span merge is one doc_id shuffle shared by the
    lag-window and the groupBy (Catalyst reuses the exchange). Docs
    with fewer than ``k`` words have no k-grams and drop out, which
    also keeps ``F.sequence`` ascending."""
    from pyspark.sql import Window

    from .text import word_code_col

    words = words_col(F.col(text_col))
    wcodes = F.transform(words, word_code_col)

    def gram_code(i):
        # modulus applied at EVERY step (identical result to one
        # final mod when nothing overflows, but a pathological
        # ~250k-char token would push the un-modded k=6 polynomial
        # past int64 — Spark would wrap silently while the oracle
        # errors; per-step mod keeps the intermediate below ~2^39
        # for any input, mirrored exactly in the SQL)
        code = F.lit(0).cast("long")
        for j in range(k):
            code = (
                code * 131 + F.element_at(F.col("wcodes"), i + F.lit(j))
            ) % F.lit(_MERSENNE31)
        return code

    codes = F.transform(
        F.sequence(F.lit(1), F.size(F.col("wcodes")) - (k - 1)), gram_code
    )
    grams = (
        df.filter(F.size(words) >= k)
        .select(F.col(id_col), wcodes.alias("wcodes"))
        .select(F.col(id_col), F.posexplode(codes).alias("pos0", "code"))
        .select(
            id_col,
            (F.col("pos0") + 1).cast("long").alias("pos"),
            "code",
        )
        .localCheckpoint(eager=True)
    )
    dup_codes = (
        grams.groupBy("code")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("code")
    )
    marked = grams.join(F.broadcast(dup_codes), "code", "left_semi")

    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= F.lit(k), F.lit(0)
    ).otherwise(F.lit(1))
    island = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marked.withColumn("island", island)
        .groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_dup_grams")
    )


def simhash_wordcode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 16,
    seed: int = 42,
) -> DataFrame:
    """SimHash whose per-bit hash family is ENGINE-INDEPENDENT integer
    arithmetic over the repo's word codes — historically the driver-
    provable form of :func:`simhash` (which stays the production
    kernel: its crc32 base hash disperses far better than word codes,
    the same tradeoff as :func:`minhash_signatures_wordcode` vs d03;
    since r12 the crc32 kernel is also oracle-replayed bit-for-bit,
    see suite_entries._simhash64_oracle_sql).

    Bit j of the signature is the sign of
    ``sum over words of (+1 if (wc(w)*a_j + b_j) mod M >= M/2 else -1)``
    — the classic random-hyperplane vote with the universal-hash family
    standing in for the random projection. All-integer, so DuckDB
    replays the signature exactly (ties at sum==0 settle to bit 0 in
    both engines).

    Scale shape: word codes hashed ONCE per word (a per-row
    transform), then per-row ``aggregate`` votes over the code array
    for each bit — no explode, no shuffle; signatures stream out at
    scan speed."""
    from .text import word_code_col

    a, b = _hash_params(n_bits, seed)
    wcodes = F.transform(words_col(F.col(text_col)), word_code_col)

    half = _MERSENNE31 // 2 + 1  # >= ceil(M/2) <=> "positive half"

    def vote_sum(ai: int, bi: int):
        return F.aggregate(
            wcodes,
            F.lit(0).cast("long"),
            lambda acc, c: acc
            + F.when(
                (c * F.lit(ai) + F.lit(bi)) % F.lit(_MERSENNE31)
                >= F.lit(half),
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )

    sig = F.lit(0).cast("long")
    for j in range(n_bits):
        sig = sig + F.when(
            vote_sum(int(a[j]), int(b[j])) > 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
    return df.select(F.col(id_col), sig.alias("simhash"))


def _segments_col(
    text_col: str, seg_words: Optional[int], sep: str
):
    """The shared segmentation expression: literal lines (split on
    ``sep``) or fixed ``seg_words``-word windows for newline-free
    corpora. Returns (segments array column, rejoin separator)."""
    if seg_words is not None:
        if seg_words < 1:
            raise ValueError(
                f"remove_frequent_segments: seg_words must be >= 1, "
                f"got {seg_words}"
            )
        words = words_col(F.col(text_col))
        starts = F.sequence(
            F.lit(0),
            F.greatest(F.size(words) - 1, F.lit(0)),
            F.lit(seg_words),
        )
        segs = F.transform(
            starts,
            lambda i: F.array_join(
                F.slice(words, i + 1, seg_words), " "
            ),
        )
        return segs, " "
    return F.split(F.col(text_col), sep), sep


def remove_frequent_segments(
    df: DataFrame,
    min_docs: int = 5,
    seg_words: Optional[int] = None,
    sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Segment-level corpus dedup WITH rewrite — the RefinedWeb/Dolma
    "line dedup" cleaning stage: any segment occurring in >=
    ``min_docs`` distinct documents (navigation chrome, cookie
    banners, license blurbs) is removed from EVERY document, and each
    document's text is reassembled from its surviving segments in
    original order. Where :func:`~arrow_zarr_spark.operators.text
    .boilerplate_stats` (t11) only *measures* boilerplate and
    :func:`duplicated_spans` (d14) *locates* within-document duplicate
    regions, this operator produces the cleaned corpus itself.

    Segments are literal lines (``split(text, sep)``, default
    newline; ``sep`` is a Java-regex split pattern and is reused
    verbatim as the rejoin separator, so keep it a plain literal) or,
    for corpora whose cleaning already stripped newlines, fixed
    ``seg_words``-word windows (``seg_words=w`` mode; rejoined with a
    single space).

    Returns one row per input document:
    ``(id_col, text, n_segments, n_removed)`` with ``text`` rewritten
    (empty string when every segment was boilerplate).

    Scale shape (100 TB): segment IDENTITY is all the frequency pass
    needs, so segments explode as 8-byte xxhash64 digests — (doc_id,
    pos, digest) rows, no text in any shuffle — behind one eager
    localCheckpoint (two consumers; Catalyst would re-run the explode
    per consumer; swap for checkpoint() on a real cluster if executor
    loss must be survivable). Document frequency is one groupBy(digest)
    with a two-phase countDistinct (map-side partials); the surviving
    frequent set is orders of magnitude smaller than the corpus and
    broadcasts into a semi-join that reduces to per-doc removal
    POSITIONS (ints). The rewrite is row-local (an index-lambda
    ``filter`` over the segment array) after a doc-keyed join whose
    build side holds only (doc_id, positions) rows — AQE broadcasts
    it when it fits, and even the sort-merge fallback shuffles the
    corpus text exactly once. A 64-bit digest collision would merge
    two segments' doc counts (p ~ n^2/2^65 — ~1e-10 at 100k distinct
    segments) and at worst over-removes one segment.
    """
    segs_expr, joiner = _segments_col(text_col, seg_words, sep)
    digs = F.transform(segs_expr, lambda s: F.xxhash64(s))
    ex = df.select(
        F.col(id_col), F.posexplode(digs).alias("pos", "dig")
    ).localCheckpoint(eager=True)
    frequent = (
        ex.groupBy("dig")
        .agg(F.countDistinct(id_col).alias("ndocs"))
        .filter(F.col("ndocs") >= min_docs)
        .select("dig")
    )
    removal = (
        ex.join(F.broadcast(frequent), "dig", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_rm"))
    )
    rm = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    kept = F.filter(
        segs_expr, lambda x, i: ~F.array_contains(rm, i)
    )
    return (
        df.join(removal, id_col, "left")
        .select(
            id_col,
            F.array_join(kept, joiner).alias(text_col),
            F.size(segs_expr).cast("long").alias("n_segments"),
            F.size(rm).cast("long").alias("n_removed"),
        )
    )


def remove_frequent_segments_sql(
    min_docs: int = 5,
    seg_words: int = 8,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle for :func:`remove_frequent_segments` in
    ``seg_words`` mode (the harness corpus is newline-free). The
    oracle works on segment STRINGS where the engine works on xxhash64
    digests — outputs agree unless a 64-bit collision fires (see the
    operator docstring for the odds)."""
    w = seg_words
    return (
        f"WITH segs AS ("
        f"  SELECT {id_col}, list_transform("
        f"    range(0, CAST(ceil(len(ws)/{w}.0) AS BIGINT)),"
        f"    i -> array_to_string(list_slice(ws, i*{w}+1, i*{w}+{w}),"
        f"                         ' ')) AS sl"
        f"  FROM (SELECT {id_col}, string_split({text_col}, ' ') AS ws"
        f"        FROM {table})), "
        f"ex AS (SELECT {id_col}, unnest(sl) AS seg,"
        f"       unnest(range(0, len(sl))) AS pos FROM segs), "
        f"freq AS (SELECT seg FROM (SELECT DISTINCT {id_col}, seg"
        f"         FROM ex) GROUP BY seg HAVING COUNT(*) >= {min_docs}), "
        f"kept AS (SELECT {id_col}, seg, pos FROM ex"
        f"         WHERE seg NOT IN (SELECT seg FROM freq)), "
        f"agg AS (SELECT {id_col},"
        f"        string_agg(seg, ' ' ORDER BY pos) AS new_text,"
        f"        COUNT(*) AS n_kept FROM kept GROUP BY {id_col}), "
        f"st AS (SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_segments"
        f"       FROM ex GROUP BY {id_col}) "
        f"SELECT d.{id_col}, COALESCE(a.new_text, '') AS {text_col},"
        f" st.n_segments,"
        f" st.n_segments - COALESCE(a.n_kept, 0) AS n_removed"
        f" FROM {table} d"
        f" LEFT JOIN agg a USING ({id_col})"
        f" LEFT JOIN st USING ({id_col})"
    )


def bloom_gated_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    key,
    n_bits: int = 1 << 23,
    n_hashes: int = 5,
) -> DataFrame:
    """Membership dedup of a new batch against a corpus on an exact
    key (content digest, canonical URL, prefix fingerprint), gated by
    a Bloom filter built IN Spark from the corpus — the exact-match
    complement of :func:`dedup_against_corpus`'s fuzzy Jaccard, for
    the corpus scale where even d11's 8-byte digest SET outgrows a
    broadcast.

    ``key`` is a column name or expression evaluated on both frames;
    a new row survives iff its key appears nowhere in the corpus. The
    result is EXACT: the filter only gates the verify stage — its
    false positives are re-checked against real corpus keys, and
    false negatives are impossible by construction.

    The 100-TB shape — neither side's rows ever shuffle:

    1. every corpus partition folds its keys' ``n_hashes`` probe
       positions (JVM-side ``xxhash64(seed_i, key)``) into a LOCAL
       m-bit bitmap in one Arrow-batched pass; the driver ORs the
       per-partition bitmaps (n_partitions × m/8 bytes — 1 MB each at
       the m=2^23 default, and m never depends on corpus cardinality:
       the false-positive rate degrades gracefully instead of the
       broadcast failing);
    2. the merged filter broadcasts once; batch rows probe it with a
       vectorized kernel — definite non-members (the vast majority
       when overlap is rare) need ZERO join;
    3. possible members (true dups plus ~(1-e^{-kn/m})^k false
       positives) are exact-verified: the corpus semi-joins against
       the BROADCAST hit-key set (one more corpus scan, still no
       shuffle), and the confirmed key set broadcast-anti-joins the
       batch.

    The verify broadcasts are bounded by the BATCH's distinct keys
    (hits ⊆ batch keys even with a saturated filter), so the design
    assumption is the same as d11/d12's: the batch side fits a
    broadcast. The hints are deliberate — without them the corpus
    side of the semi-join would shuffle, the one cost this operator
    exists to avoid. If the batch itself outgrows a broadcast, this
    is the wrong operator: use the cross-LSH variant
    (:func:`minhash_lsh_pairs_cross`) or raise ``n_bits`` and split
    the batch.
    """
    if isinstance(key, str):
        key = F.col(key)
    m = int(n_bits)
    k = int(n_hashes)
    n_bytes = (m + 7) // 8
    spark = new_df.sparkSession

    def _probes(c):
        return F.array(
            *[F.pmod(F.xxhash64(F.lit(i), c), F.lit(m)) for i in range(k)]
        )

    corpus_keys = corpus_df.select(key.alias("__key"))

    def build_bitmap(batches):
        bitmap = np.zeros(n_bytes, dtype=np.uint8)
        for pdf in batches:
            if len(pdf):
                flat = np.concatenate(
                    [np.asarray(v, dtype=np.int64) for v in pdf["__p"]]
                )
                np.bitwise_or.at(
                    bitmap,
                    flat >> 3,
                    (1 << (flat & 7)).astype(np.uint8),
                )
        yield pd.DataFrame({"part": [bitmap.tobytes()]})

    parts = (
        corpus_keys.select(_probes(F.col("__key")).alias("__p"))
        .mapInPandas(build_bitmap, schema="part binary")
        .collect()
    )
    bitmap = np.zeros(n_bytes, dtype=np.uint8)
    for r in parts:
        bitmap |= np.frombuffer(r["part"], dtype=np.uint8)
    bloom_b = spark.sparkContext.broadcast(bitmap.tobytes())

    @F.pandas_udf("boolean")
    def might_contain(p: pd.Series) -> pd.Series:
        bm = np.frombuffer(bloom_b.value, dtype=np.uint8)
        if not len(p):
            return pd.Series([], dtype=bool)
        pos = np.array([np.asarray(v, dtype=np.int64) for v in p])
        hit = ((bm[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).all(
            axis=1
        )
        return pd.Series(hit)

    batch = new_df.withColumn("__key", key)
    hits = (
        batch.filter(might_contain(_probes(F.col("__key"))))
        .select("__key")
        .distinct()
    )
    confirmed = corpus_keys.join(
        F.broadcast(hits), "__key", "left_semi"
    ).distinct()
    return batch.join(
        F.broadcast(confirmed), "__key", "left_anti"
    ).drop("__key")


def embedding_dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: Optional[int] = None,
    n_tables: Optional[int] = None,
    seed: int = 42,
    target_miss: float = 1e-6,
) -> DataFrame:
    """Drop every NEW vector that near-duplicates (cosine ≥
    ``threshold``) ANY corpus vector — the embedding-modality twin of
    :func:`dedup_against_corpus` (text Jaccard) and the cross-table
    form of :func:`embedding_lsh_neardup_pairs`: incremental semantic
    dedup of a new embedding batch against an existing corpus.

    The 100-TB shape — the corpus never shuffles:

    1. both sides stream through the shared hyperplane-LSH signature
       kernel (scan-bound mapInPandas, parameters auto-derived from
       the threshold exactly as the self-join gate);
    2. the corpus signature stream semi-joins against the BROADCAST
       batch signature set on (table, signature) — candidates are
       bounded by bucket collisions with the batch, never all-pairs;
    3. candidates exact-verify with the Arrow cosine kernel (vectors
       re-joined by id, the batch side broadcast);
    4. confirmed-duplicate new ids broadcast-anti-join the batch.

    Same recall contract as the self-join gate: per qualifying pair
    miss ≤ ``target_miss`` at the threshold (an LSH miss keeps a true
    near-dup — tune ``target_miss`` down or pass ``n_tables`` for
    stricter guarantees)."""
    from .similarity import cosine_udf

    # bootstrap/degenerate cases keep d12's contract: an empty (or
    # all-null-embedding) corpus dedups nothing — the whole batch
    # survives; a batch with no usable vectors likewise passes through
    # (null vectors can't near-dup anything)
    if (
        corpus_df.select(vec_col)
        .where(F.col(vec_col).isNotNull())
        .first()
        is None
        or new_df.select(vec_col)
        .where(F.col(vec_col).isNotNull())
        .first()
        is None
    ):
        return new_df

    n_planes, n_tables = _hyperplane_lsh_params(
        threshold, n_planes, n_tables, target_miss,
        "embedding_dedup_against_corpus",
    )
    new_sigs = _hyperplane_signatures(
        new_df, id_col, vec_col, n_planes, n_tables, seed,
        "embedding_dedup_against_corpus",
    )
    corpus_sigs = _hyperplane_signatures(
        corpus_df, id_col, vec_col, n_planes, n_tables, seed,
        "embedding_dedup_against_corpus",
    )
    cand = (
        corpus_sigs.alias("c")
        .join(
            F.broadcast(new_sigs).alias("n"),
            (F.col("c.tbl") == F.col("n.tbl"))
            & (F.col("c.sig") == F.col("n.sig")),
        )
        .select(
            F.col("n.sid").alias("new_id"),
            F.col("c.sid").alias("corpus_id"),
        )
        .distinct()
    )
    vn = new_df.select(F.col(id_col).alias("new_id"), F.col(vec_col).alias("vn"))
    vc = corpus_df.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("vc")
    )
    # corpus vectors stream-probe the BROADCAST id-only pair set, then
    # the batch vectors broadcast separately — never the pair×vector
    # join product (at low thresholds candidates are bounded by batch
    # × corpus bucket collisions, not by the batch alone, so the pair
    # set must stay id-sized); an unhinted join would sort-merge the
    # corpus
    flagged = (
        vc.join(F.broadcast(cand), "corpus_id")
        .join(F.broadcast(vn), "new_id")
        .filter(F.round(cosine_udf("vn", "vc"), 6) >= threshold)
        .select("new_id")
        .distinct()
    )
    return new_df.join(
        F.broadcast(flagged.withColumnRenamed("new_id", id_col)),
        id_col,
        "left_anti",
    )
