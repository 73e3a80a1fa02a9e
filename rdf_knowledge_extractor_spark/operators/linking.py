"""Entity linking: prefix-filtered candidates + verified edges.

North-star stage (BASELINE.json): coreferent entity URIs produced by
extraction ("TechCorp Inc." / "TechCorp" / "TechCorp, Inc." …) must be
discovered as link candidates WITHOUT an O(n²) comparison.  Design:

1. entity universe  = distinct subjects + URI objects of the triple
   table (one shuffle for the distinct);
2. normalize        = pure-Catalyst canonical key (lowercased local
   name, non-alnum stripped, trailing corporate suffix token removed)
   and its character-3-gram shingle array;
3. key tier         = entities sharing a canonical key are one cluster
   by construction; one groupBy collapses each key group to its
   min-URI representative;
4. prefix filtering = PPJoin-style inverted index over each
   representative's rarest shingles (`prefix_candidate_pairs`): EXACT
   recall at the Jaccard threshold; oversized postings route through
   the distributed self-join arm, never dropped;
5. verification     = pure-Catalyst Jaccard on the shingle arrays
   (size(intersect)/size(union)) OR canonical-key equality — no
   Python in the verify path;
6. edges → connected components (operators/components.py) →
   canonical id per cluster.

The reference has no equivalent (its store keeps every surface-form
URI distinct); this stage is the scale-mandated addition
(BASELINE.json north_star, PAPERS.md: SparkER/MinoanER blocking).
`_minhash_band_udf` lives here as the banded-MinHash sketch of the
textdedup and streaming near-dup families.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdf_knowledge_extractor_spark.operators.components import connected_components

_MERSENNE = (1 << 61) - 1
# corporate suffix tokens, matched ONLY at a CamelCase token boundary
# (lookbehind for a lowercase char/digit) so stems like "Techcorp"
# keep their embedded "corp"
_SUFFIXES = "Inc|Corp|Corporation|Solutions|Industries|Group|Labs|Ltd|Llc|Gmbh"


def entity_universe(triples: DataFrame) -> DataFrame:
    """Distinct entity URIs: all subjects + URI-shaped objects."""
    subs = triples.select(F.col("subject").alias("uri"))
    objs = triples.select(F.col("object").alias("uri")).filter(
        F.col("object").startswith("http://") | F.col("object").startswith("https://")
    )
    return subs.unionByName(objs).distinct()


def key_shingles(key) -> "F.Column":
    """char-3-gram shingle array of a canonical-key column (the
    shingles are a pure function of the key — shared by
    with_canonical_key and the representative fast path in
    link_entities).  Delegates to the shared char_shingles helper so
    the k-gram expression has one definition."""
    from rdf_knowledge_extractor_spark.functions.text_analysis import (
        char_shingles,
    )

    return char_shingles(key, 3)


def with_canonical_key(entities: DataFrame, uri_col: str = "uri") -> DataFrame:
    """Add `key` (normalized local name) and `shingles` (char 3-grams).

    All pure Catalyst: local name = after last '/' then last '#';
    lowercase; strip non-alnum; strip one trailing corporate suffix.
    """
    local = F.element_at(F.split(F.element_at(F.split(F.col(uri_col), "/"), -1), "#"), -1)
    unsuffixed = F.regexp_replace(local, f"(?<=[a-z0-9])({_SUFFIXES})$", "")
    norm = F.lower(F.regexp_replace(local, "[^a-zA-Z0-9]", ""))
    stripped = F.lower(F.regexp_replace(unsuffixed, "[^a-zA-Z0-9]", ""))
    key = F.when(F.length(stripped) >= 3, stripped).otherwise(norm)
    df = entities.withColumn("key", key)
    return df.withColumn("shingles", key_shingles(F.col("key")))


def shingle_hash_col(shingles_col):
    """Catalyst-side 64-bit shingle hashing: `xxhash64` inside a
    `transform` lambda runs JVM-side under whole-stage codegen — the
    Python UDF then receives int64 arrays and never touches strings.
    (Round-1 verdict: the per-shingle hashlib loop inside the UDF was
    the slowest bench stage.)"""
    return F.transform(shingles_col, lambda s: F.xxhash64(s))


def _minhash_band_udf(num_perm: int, bands: int, seed: int = 17):
    """Banded-MinHash over PRE-HASHED shingles (array<long> input).

    Fully batch-vectorized: one (Σ shingles × num_perm) universal-hash
    matrix per Arrow batch, per-document signatures via
    `np.minimum.reduceat`, band folding via wrapping-multiply mixing —
    zero per-row Python beyond list assembly."""
    rows_per_band = num_perm // bands
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.int64).astype(np.uint64)
    _MIX = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant
    _BIDX = (np.arange(bands, dtype=np.uint64) + np.uint64(1)) * np.uint64(
        0xBF58476D1CE4E5B9
    )

    # shingle budget per vectorized chunk: sized so the (ΣS × P) hash
    # matrix (chunk × 64 perms × 8 B ≈ 512 KB) plus its one temp stays
    # inside a core's PRIVATE L2.  The hash computation makes ~9 full
    # passes over the matrix (multiply, add, three mod-fold steps,
    # reduceat), so a cache-resident chunk turns those passes into
    # cache hits instead of DRAM round-trips under 32 concurrent
    # python workers.  Re-swept on the round-6 measurement box
    # (32-way ProcessPool, same math, 560k shingles/worker):
    # chunk 50k → 2.19 s, 16k → 1.44, 4k → 0.76-0.82, and a flat
    # plateau 0.56-0.59 s across 500-2000; 1000 sits mid-plateau with
    # the fewest python-loop iterations.  Same bound protects worker
    # RSS under many concurrent workers.
    _CHUNK_SHINGLES = 1_000

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bands_of(hashed: pd.Series) -> pd.Series:
        vals = hashed.tolist()
        lengths = np.fromiter((len(x) if x is not None else 0 for x in vals), dtype=np.int64)
        n_rows = len(lengths)
        if n_rows == 0:
            return pd.Series([], dtype=object)
        out = np.zeros((n_rows, bands), dtype=np.int64)
        start = 0
        with np.errstate(over="ignore"):
            while start < n_rows:
                end, budget = start, 0
                while end < n_rows and (budget == 0 or budget + lengths[end] <= _CHUNK_SHINGLES):
                    budget += lengths[end]
                    end += 1
                chunk_lens = lengths[start:end]
                nonempty = chunk_lens > 0
                if nonempty.any():
                    flat = np.concatenate(
                        [np.asarray(vals[i], dtype=np.int64) for i in range(start, end) if lengths[i]]
                    ).astype(np.uint64)
                    H = flat[:, None] * a[None, :]  # (ΣS, P)
                    H += b[None, :]
                    # exact `% _MERSENNE` via two shift-add folds
                    # (2^61 ≡ 1 mod M, so x = q·2^61 + r ≡ q + r): no
                    # vectorized integer division, ~3× cheaper on the
                    # (ΣS × P) matrix, bit-identical result
                    _M64 = np.uint64(_MERSENNE)
                    _S61 = np.uint64(61)
                    lo = H & _M64
                    H >>= _S61
                    H += lo
                    np.bitwise_and(H, _M64, out=lo)
                    H >>= _S61
                    H += lo
                    np.subtract(H, _M64, out=H, where=H >= _M64)
                    offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
                    np.cumsum(chunk_lens[nonempty][:-1], out=offsets[1:])
                    sig = np.minimum.reduceat(H, offsets, axis=0)  # (rows⁺, P)
                    sigr = sig.reshape(sig.shape[0], bands, rows_per_band)
                    bv = sigr[:, :, 0].copy()
                    for j in range(1, rows_per_band):
                        bv *= _MIX
                        bv += sigr[:, :, j]
                    bv ^= _BIDX[None, :]
                    bv *= _MIX
                    idx = np.flatnonzero(nonempty) + start
                    out[idx] = bv.astype(np.int64)
                start = end
        return pd.Series(list(out))

    return bands_of


def prefix_candidate_pairs(
    entities_with_shingles: DataFrame,
    threshold: float = 0.85,
    max_bucket_size: int = 200,
    uri_col: str = "uri",
    rank_prefixes: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(candidate_pairs(uri_a, uri_b), oversized_report) via PREFIX
    FILTERING (PPJoin family) over the canonical-key shingles.

    EXACT recall by theorem: two shingle sets with Jaccard ≥ t must
    share an element within each set's ⌊(1-t)·n⌋+1 RAREST shingles —
    so only those prefixes enter the inverted index, with zero recall
    loss (the guarantee the exact-Jaccard verifier needs; MinHash-LSH
    only offered a probabilistic one).  On short canonical keys this
    is also orders of magnitude cheaper: numeric-suffix key families
    ("doc123…", "doc124…") share most of their 3-grams, so banded
    MinHash put thousands of sub-threshold keys in the same buckets —
    measured 2.07M candidate pairs from 15k representatives at sf0.1,
    21 s of verification — while rarest-first prefixes keep posting
    lists to the handful of entities sharing a RARE gram.  Oversized
    postings route through the distributed self-join arm (exact, never
    dropped), keeping recall deterministic at any scale.
    """
    from rdf_knowledge_extractor_spark.operators.textdedup import (
        _bucket_candidate_pairs,
    )

    inv = entities_with_shingles.select(
        F.col(uri_col).alias("id"), F.explode("shingles").alias("g")
    )
    if rank_prefixes:
        df_tbl = inv.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        ranked = (
            inv.join(df_tbl, on="g")
            .groupBy("id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("df"), F.col("g")))),
                    lambda s: s["g"],
                ).alias("by_rarity")
            )
        )
        # prefix length ⌊(1−t)·n⌋ + 1 with an epsilon BEFORE the
        # floor: in IEEE754 (1−0.9)·10 = 0.9999999999999998, whose
        # bare floor truncates the prefix one short and silently
        # breaks the exact-recall theorem (a J=0.9 pair at t=0.9 was
        # missed — pinned in tests).  The epsilon only ever errs
        # toward a LONGER prefix (a candidate superset, removed by
        # the exact verifier), never shorter.
        prefix = ranked.select(
            "id",
            F.explode(
                F.slice(
                    "by_rarity",
                    1,
                    (
                        F.floor((1 - threshold) * F.size("by_rarity") + F.lit(1e-9))
                        + F.lit(1)
                    ).cast("int"),
                )
            ).alias("g"),
        )
    else:
        # tiny-input fast arm: index EVERY shingle (a candidate
        # superset of the ranked prefix — recall still exact) and
        # generate pairs with a DIRECT self-equi-join on the inverted
        # index.  The pair set is identical to the bucket machinery's
        # (its selfjoin arm makes bucketed generation ≡ the plain
        # self-join for every bucket size), but the plan is 2 stages
        # instead of groupBy + persist + in-array combos + report
        # branches — at the sizes this arm dispatches on (< 1,000
        # entities, see link_entities) the job-latency floor is the
        # whole cost.  Oversized-report is vacuously empty.
        a = inv.select(F.col("id").alias("id_a"), "g")
        b = inv.select(F.col("id").alias("id_b"), "g")
        pairs = (
            a.join(b, on="g")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        report = entities_with_shingles.sparkSession.createDataFrame(
            [], "g string, n int"
        )
        return (
            pairs.select(F.col("id_a").alias("uri_a"), F.col("id_b").alias("uri_b")),
            report,
        )
    pairs, report = _bucket_candidate_pairs(
        prefix, ["g"], "id", max_bucket_size=max_bucket_size, oversized="selfjoin"
    )
    return (
        pairs.select(F.col("id_a").alias("uri_a"), F.col("id_b").alias("uri_b")),
        report,
    )


def verified_edges(
    pairs: DataFrame,
    entities_with_shingles: DataFrame,
    threshold: float = 0.85,
    uri_col: str = "uri",
) -> DataFrame:
    """Filter candidates: canonical-key equality OR shingle Jaccard ≥ t.

    Default t=0.85: tier-1 key equality already resolves suffix and
    punctuation variants, so the fuzzy tier only needs typo-level
    similarity — and looser thresholds create false merges between
    short names with numeric suffixes (J(person1, person17)=0.83).

    Pure Catalyst (array_intersect/array_union) — hot entities that
    appear in many pairs are handled by the AQE skew-join splitter.
    The set ops run on XXHASH64-HASHED shingles: int64 intersect/union
    sizes equal the string-shingle sizes up to a 2⁻⁶⁴ in-pair hash
    collision (the same accepted equivalence as minhash_lsh_pairs),
    and compare ~3× cheaper than 3-char strings on the candidate
    volume this join sees.
    """
    # array_distinct on the hashes makes them SETS even under a hash
    # collision (result unchanged — intersect/union deduplicate), so
    # |A∪B| = |A|+|B|−|A∩B| holds exactly and the per-pair union hash
    # set is never built: one set-op per candidate pair instead of two
    ent = entities_with_shingles.select(
        F.col(uri_col),
        F.col("key"),
        F.array_distinct(shingle_hash_col(F.col("shingles"))).alias("_sh"),
    )
    a = ent.select(
        F.col(uri_col).alias("uri_a"), F.col("key").alias("key_a"), F.col("_sh").alias("sh_a")
    )
    b = ent.select(
        F.col(uri_col).alias("uri_b"), F.col("key").alias("key_b"), F.col("_sh").alias("sh_b")
    )
    joined = pairs.join(a, on="uri_a").join(b, on="uri_b").withColumn(
        "_i", F.size(F.array_intersect("sh_a", "sh_b"))
    )
    jaccard = F.col("_i") / (F.size("sh_a") + F.size("sh_b") - F.col("_i"))
    return joined.filter((F.col("key_a") == F.col("key_b")) | (jaccard >= threshold)).select(
        "uri_a", "uri_b"
    )


def link_entities(
    triples: DataFrame,
    threshold: float = 0.85,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Full linking stage: triples → mapping(uri, canonical).

    canonical = min URI of the connected component (deterministic).
    Every entity in the universe appears in the mapping (identity rows
    for un-linked entities), so downstream remaps are total.

    Two-tier design:

    1. **Exact-key tier** — entities sharing a canonical key are one
       cluster by construction (their shingle sets are identical);
       one groupBy collapses each key group to its min-URI
       representative.  This resolves the overwhelming majority of
       coreference (suffix/punctuation variants) with a single
       shuffle.
    2. **Fuzzy tier** — prefix-filtered candidates (exact recall at
       `threshold`; see prefix_candidate_pairs) + Jaccard verification
       + connected components run only over the key REPRESENTATIVES
       (typo-level variants whose keys differ).  Small edge lists
       (all of them at bench scale) take the driver union-find arm of
       connected_components: one bounded collect.

    The result is identical to running linking over the full universe
    (same-key members form cliques, so any cross-key member edge is
    equivalent to the corresponding representative edge), at a
    fraction of the job count — this matters both at tiny scale
    (driver job-latency floor) and at 10^12 scale (the fuzzy tier's
    candidate space shrinks from |entities|² to |distinct keys|²).

    Partitioning is AQE-governed throughout (post-shuffle coalescing
    under caching enabled in session.py) — data-proportional task
    counts with no manual sizing.
    """
    universe = entity_universe(triples)
    # localCheckpoint (not persist): the entity table is the root of
    # every downstream linking plan (key tier, candidates, verify, CC,
    # final mapping join).  persist() caches DATA but keeps the full
    # upstream logical plan (scan → extract UDF → merge), and the
    # single-threaded driver re-ANALYZES that deep tree on every one of
    # the ~dozen actions this stage runs — measured at multiple seconds
    # per action at bench scale.  Checkpointing truncates the lineage
    # so each action analyzes a flat plan.  Trade-offs, accepted: (a)
    # truncated lineage is NOT recomputable — executor/block loss fails
    # the job, and the enclosing stage is re-run from the pipeline's
    # durable stage checkpoint (plans/pipeline.py resume), the same
    # trade the CC loop makes; (b) checkpoint blocks are freed when the
    # driver GCs the RDD, not by clearCache() — long-lived sessions
    # calling link_entities repeatedly release them via normal GC of
    # the returned mapping's references.
    ent = with_canonical_key(universe).localCheckpoint(eager=True)

    # tier 1: key group → min-URI representative
    key_rep = ent.groupBy("key").agg(F.min("uri").alias("rep"))
    # one entity row per representative: shingles are a pure function
    # of the key, so they are RE-DERIVED from key_rep instead of joined
    # back against `ent` — drops a whole join (shuffle + filter pass
    # over the entity table) from the linking critical path
    reps = key_rep.select(
        F.col("rep").alias("uri"), "key", key_shingles(F.col("key")).alias("shingles")
    ).persist()

    # tier 2: fuzzy linking over representatives — prefix-filtered
    # candidates (EXACT recall at `threshold`, no sketch UDF, no
    # python worker round-trip; see prefix_candidate_pairs for the
    # MinHash-vs-prefix measurement that motivated the switch).  The
    # rarity ranking that keeps big inputs near-linear costs three
    # extra tiny shuffles, so it is switched off below 1,000 entities
    # (count on the checkpointed table is a cached-scan job).
    pairs, _oversized = prefix_candidate_pairs(
        reps,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
        rank_prefixes=ent.count() > 1_000,
    )
    # key equality is already resolved by tier 1 → only true fuzzy edges
    edges = verified_edges(pairs, reps, threshold=threshold).filter(
        F.col("uri_a") != F.col("uri_b")
    )
    components = connected_components(edges, src="uri_a", dst="uri_b")
    rep_canon = (
        key_rep.select(F.col("rep").alias("node"), "key")
        .join(components, on="node", how="left")
        .select(
            "key",
            F.coalesce(F.col("component"), F.col("node")).alias("canonical"),
        )
    )
    mapping = ent.join(rep_canon, on="key").select("uri", "canonical")
    reps.unpersist()
    return mapping
