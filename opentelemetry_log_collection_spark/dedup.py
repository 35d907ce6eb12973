"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard verification.

All stages are shuffle-budgeted for the 100 TB case:

  - exact:    ONE hash aggregation on md5(text) (map-side partial
              agg; the 16-byte digest shuffles, never the text).
  - minhash:  shingle explode is pipeline-local (no shuffle); ONE
              groupBy(doc_id) computes the whole signature as K
              independent min() aggregates in a single pass; the LSH
              band self-join shuffles only (doc_id, band_key) pairs —
              the classic shingle->minhash->band->bucket-join plan.
  - simhash:  explode (word x 64 bits) stays pipeline-local; two
              small aggregations reassemble the 64-bit signature as a
              16-hex-char string.
  - jaccard:  exact |A∩B| / |A∪B| on CANDIDATE pairs only (the LSH
              output), never all-pairs.

Everything is Spark builtins — md5/substring/aggregate run inside
whole-stage codegen; no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# production defaults: 128 permutations in 16 bands of 8 rows — the
# classic ~0.85-threshold near-dup operating point. The driver oracle
# pins a small K=4/band=2 configuration (the SQL enumerates each hash
# column); tests exercise both.
MINHASH_SEEDS = 128  # K signature components
BAND_SIZE = 8        # rows per LSH band -> K/BAND_SIZE bands
SHINGLE = 3          # words per shingle

# Per-seed hash family for the signature. MinHash only needs a
# deterministic uniform hash with a total order per seed, so the
# production default is xxhash64 -> one BIGINT per seed (min over
# longs, pure codegen). 'md5' (hex string, min over 32-char strings)
# is kept because DuckDB can reproduce it — the oracle config pins it.
# Measured at 50k docs x 128 seeds: md5 signature 167s, xxhash64
# 28s — 6x.
MINHASH_HASH = "xxhash64"

_HEX = "0123456789abcdef"


def words_col(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingles(df: DataFrame, text_col: str = "text", n: int = SHINGLE) -> DataFrame:
    """(doc_id, shingle) — one row per overlapping n-word shingle.

    The tokenized array is materialized as its own column FIRST: a
    lambda body can't share subexpressions, so referencing the split
    directly inside transform() re-tokenizes the text per element —
    O(words^2) work per doc (measured 30x slower at sf0.1). slice()
    over the bound column keeps it one tokenize per row.

    Docs shorter than n words yield ZERO shingles (they vanish from
    the exploded frame, same as the oracle's empty generate_series):
    the sequence() is gated on size >= n because Spark's sequence
    defaults to step -1 when start > stop, which would feed slice() a
    start of 0 and abort the job on any 1-2 word doc."""
    ws = F.col("_ws")
    # concat_ws over n element_at probes, not array_join(slice(...)):
    # the slice form allocates an n-element array per shingle before
    # joining it; the direct probes skip that (12% on the gram
    # materialization at 10x bench scale, byte-identical output —
    # split() never yields null elements, so concat_ws's null-skip
    # never fires)
    sh = F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, i + k) for k in range(n)]
            ),
        ),
    )
    # explode (not explode_outer): a null shingle array drops the doc
    return (
        df.withColumn("_ws", words_col(F.col(text_col)))
        .select("doc_id", F.explode(sh).alias("shingle"))
    )


# --------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Group identical texts by md5 digest; survivor = min doc_id.
    Returns (keep_id, n_copies, content_hash)."""
    return (
        df.select(F.col("doc_id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def paragraph_dedup(
    df: DataFrame, text_col: str = "text", sep: str = "\n\n"
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the CCNet/C4 scheme:
    Wenzek et al. 2020 §3.1 dedup "paragraphs"; C4 does it on lines):
    split every document on ``sep``, keep only the globally FIRST
    occurrence of each distinct paragraph (first = min (doc_id, idx)),
    and reassemble each document from its surviving paragraphs in
    original order. Returns (doc_id, text, n_paras, n_kept) — a doc
    whose every paragraph was seen earlier comes back with an empty
    text and n_kept = 0, the CCNet behavior (downstream length filters
    drop it).

    100 TB shape: paragraphs are keyed by md5 digest (same collision
    discipline as exact_dedup) so the full text never shuffles for the
    keeper election — ONE partial-agg groupBy(digest) elects keepers
    (map-side combine absorbs hot paragraphs, the boilerplate-header
    skew case a row_number-window plan would not survive), the
    keeper set joins back on the digest the exploded frame already
    carries (self-join off the same exchange), and ONE groupBy(doc_id)
    reassembles. Text crosses the wire once, in the reassembly."""
    parts = df.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias(
            "idx", "para"
        ),
    ).withColumn("_h", F.md5(F.col("para")))
    keepers = parts.groupBy("_h").agg(
        F.min(F.struct("doc_id", "idx")).alias("_keep")
    )
    kept = (
        parts.join(keepers, "_h")
        .where(
            (F.col("doc_id") == F.col("_keep.doc_id"))
            & (F.col("idx") == F.col("_keep.idx"))
        )
        .drop("_h", "_keep")
    )
    n_paras = df.select(
        F.col("doc_id"),
        F.size(F.split(F.col(text_col), F.lit(sep), -1)).alias("n_paras"),
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("idx").alias("o"), F.col("para").alias("v"))
                    )
                ),
                lambda x: x.getField("v"),
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        n_paras.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "n_paras",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast(T.LongType()).alias(
                "n_kept"
            ),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster resolution: near-dup PAIRS (the output of
    minhash_near_dups / simhash_near_dups / embedding_near_dups) ->
    connected components, labeling every doc with the MIN doc id of
    its component (``cluster_id``). Survivor selection is then
    ``doc_id == cluster_id`` — the step between "we found dup pairs"
    and "we dropped the dups" that every corpus-dedup pipeline needs.

    Algorithm: iterative min-label propagation with pointer doubling
    over the symmetrized edge list — each round takes label(v) =
    min over neighbors' labels, then dereferences label(label(v))
    (shortcutting), so a node's horizon doubles per round and a
    fixpoint arrives in O(log diameter) rounds of join + partial-agg
    groupBy. Near-dup components are LSH-bucket cliques overlapping on
    shared docs, so diameters are small (single digits); each round
    shuffles only (node, label) BIGINT pairs, never text.

    Per-round cost discipline (each avoided job is a full scheduling
    round-trip, and at cluster scale a shuffle):
      - the symmetrized edge list feeds every round's join, so it is
        persisted once — without that, Catalyst re-derives the
        union+distinct (and the upstream pair-finding plan!) once per
        round;
      - lineage is cut with a LAZY localCheckpoint whose
        materialization rides the SAME action that checks
        convergence, so each round runs exactly ONE job;
      - convergence is detected by the per-round SUM of labels:
        min-propagation and shortcutting are monotone nonincreasing
        per node, so the label sum strictly decreases iff any label
        changed — one scalar per round with no compare-join. The sum
        is exact (DECIMAL(38,0), no bigint overflow at any id scale).
    Raises if max_iter rounds don't converge (a pathological chain;
    raise max_iter for adversarial graphs)."""
    from pyspark.storagelevel import StorageLevel

    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def _sum(df: DataFrame) -> object:
        return df.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    # one-hop head start: init label = min(node, min neighbor) — the
    # same aggregation shape the old distinct() init paid, but the
    # first propagation round comes free, which at O(log d) total
    # rounds is a full join+checkpoint round-trip saved. Each round's
    # localCheckpoint is lazy: the convergence sum materializes it, so
    # a round is one job
    labels = (
        e.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("_mn"))
        .select("node", F.least(F.col("node"), F.col("_mn")).alias("lbl"))
        .localCheckpoint(eager=False)
    )
    prev_sum = _sum(labels)
    for _ in range(max_iter):
        # min over incoming neighbor labels, then min with own label
        hop = (
            labels.join(e, labels["node"] == e["a"])
            .select(F.col("b").alias("node"), "lbl")
            .union(labels)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
        # pointer doubling (shortcutting): label <- label(label).
        # Every lbl value is itself a node id (labels start as ids and
        # only mins of ids propagate), so one join dereferences it;
        # label(u) <= u makes the dereferenced value the new min.
        # Rounds needed drop from O(diameter) to O(log diameter) —
        # each round a node sees ~2x further instead of 1 hop.
        #
        # The deref mapping is the PREVIOUS round's labels, not hop:
        # hop feeding both join sides makes Catalyst compute the whole
        # join+union+groupBy subtree TWICE per round (no exchange
        # reuse across the self-join — verified in the physical plan),
        # where labels is an already-materialized checkpoint that
        # costs nothing to read twice. lbl_prev(u) <= u keeps the
        # update monotone nonincreasing (so the sum-based convergence
        # test stays exact), the final fixpoint is the same min label,
        # and on the bench graph the round count is unchanged (10)
        # while the per-round wall drops ~30% (same-window A/B:
        # 5.98s -> 4.18s total at 10x bench scale).
        deref = labels.select(
            F.col("node").alias("lbl"), F.col("lbl").alias("_lbl2")
        )
        prop = (
            hop.join(deref, "lbl", "left")
            .select(
                "node",
                F.coalesce(F.col("_lbl2"), F.col("lbl")).alias("lbl"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = _sum(prop)  # materializes the checkpoint too
        changed = cur_sum != prev_sum
        labels, prev_sum = prop, cur_sum
        if not changed:
            e.unpersist()
            return labels.select(
                F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
            )
    e.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


#: jaccard_ngram_pairs broadcasts its shingle index up to this many rows
#: and takes the symmetric shuffle join above it
BROADCAST_INDEX_MAX_ROWS = 8_000_000


def jaccard_ngram_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = SHINGLE,
    sim_num: int = 1,
    sim_den: int = 2,
    max_df: int | None = 10_000,
) -> DataFrame:
    """N-gram Jaccard near-duplicate pairs over the full shingle
    sets — no MinHash sampling. Exact except for the two trade-offs
    described below: a 64-bit xxhash64 collision between shingle keys,
    and shingles dropped by the ``max_df`` cap (``max_df=None`` turns
    the cap off). Returns (doc_a, doc_b, inter_cnt,
    union_cnt) for every pair with Jaccard >= sim_num/sim_den; the
    threshold is evaluated as ``inter*den >= union*num`` so it is
    integer-exact and engine-portable (no float compare).

    Candidate generation is the inverted shingle index: self-join the
    distinct (doc_id, shingle) frame ON THE SHINGLE — a pair is
    produced once per SHARED shingle and counted, so only pairs with
    inter_cnt >= 1 ever materialize. All-pairs is never formed. The
    index keys the join on xxhash64(shingle) — an 8-byte BIGINT
    instead of the shingle string — so the self-join probes, the
    pair aggregation, and every shuffle handle longs; a 64-bit
    collision (~|index|^2 / 2^64, vanishing) could merge two distinct
    shingles and perturb a count, the same accepted trade recorded
    for the LSH band keys in lsh_candidate_pairs.

    100 TB shape: the (doc, shingle) rows shuffle once to build the
    index; join fan-out per shingle is df^2, so a corpus-scale stop
    shingle ("click here to") would go quadratic — ``max_df`` drops
    shingles appearing in more docs than the cap BEFORE the join (the
    standard stop-shingle filter; a shingle that common carries no
    similarity signal, and a true near-dup pair at any real threshold
    still shares many rare shingles, so in practice pairs are
    unaffected — but note the exactness fine print: when the cap
    BINDS, inter_cnt is counted over the capped index while union
    sizes stay uncapped, so intersections are undercounted and a pair
    straddling the threshold can drop out. Set max_df=None for strict
    exactness). Per-doc sizes are attached to the index rows BEFORE
    the self-join (one tiny broadcast of (doc_id, n_sh)), so the pair
    aggregation emits (inter, n_a, n_b) directly and the old pattern
    of re-joining the huge pair table against sizes twice is gone.

    Plan choice is scale-adaptive on the materialized index row count
    (the persisted index is counted once — that also forces the cache
    so the corpus is read and shingled exactly once for the four plan
    branches that reuse it; without the persist Catalyst recomputes
    the scan+explode per branch, measured 12 parquet scans):

      - index <= ``BROADCAST_INDEX_MAX_ROWS`` (~25 bytes/row, so 8M
        rows is a ~200 MB build): broadcast the b-side and
        hash-partition the a-side by doc_a. The join probe then runs
        map-side and its output is ALREADY clustered by doc_a, so the
        pair aggregation needs NO exchange — the df^2 co-occurrence
        stream (measured 127M rows at sf1.0, 48x the index) is
        consumed by the per-partition hash aggregate in the same
        stage and never crosses the wire. Measured 20.6s -> 6.3s at
        sf1.0 (the old plan shuffled all 127M pair rows).
      - larger index: classic symmetric shuffle join on the hash key,
        with an explicit repartition on (doc_a, doc_b) sized from the
        index so per-task aggregation state stays bounded.
    """
    from pyspark.storagelevel import StorageLevel

    # hash BEFORE the distinct: the dedup shuffle then carries 8-byte
    # longs, not shingle strings (distinct-on-hash == distinct-on-
    # string modulo the same vanishing 64-bit collision odds)
    sh = (
        shingles(df, text_col, n)
        .select("doc_id", F.xxhash64("shingle").alias("_h"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # one cheap job: materializes the shared index AND yields the row
    # count that drives the broadcast-vs-shuffle choice below
    idx_rows = sh.count()
    par = df.sparkSession.sparkContext.defaultParallelism
    n_parts = max(par, idx_rows // 10_000)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    idx = sh
    if max_df is not None:
        # drop stop-shingles via a broadcast ANTI join against the
        # OVER-cap set (tiny, usually empty) — broadcasting the
        # under-cap census would ship the whole shingle vocabulary
        # through the driver (millions of rows at bench scale)
        dfreq = sh.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
        idx = sh.join(
            F.broadcast(dfreq.filter(F.col("_df") > max_df).drop("_df")),
            "_h",
            "left_anti",
        )
    small = idx_rows <= BROADCAST_INDEX_MAX_ROWS
    idx = idx.join(F.broadcast(sizes) if small else sizes, "doc_id")
    a = idx.select(
        F.col("doc_id").alias("doc_a"), "_h", F.col("n_sh").alias("n_a")
    )
    b = idx.select(
        F.col("doc_id").alias("doc_b"), "_h", F.col("n_sh").alias("n_b")
    )
    if small:
        joined = (
            a.repartition(n_parts, "doc_a")
            .join(F.broadcast(b), "_h")
            .filter(F.col("doc_a") < F.col("doc_b"))
        )
    else:
        joined = (
            a.join(b, "_h")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .repartition(n_parts, "doc_a", "doc_b")
        )
    pairs = joined.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("inter_cnt"),
        # n_a/n_b are functions of the grouping keys; first() is exact
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "inter_cnt",
        (F.col("n_a") + F.col("n_b") - F.col("inter_cnt")).alias("union_cnt"),
    ).filter(
        F.col("inter_cnt") * F.lit(sim_den)
        >= F.col("union_cnt") * F.lit(sim_num)
    )


# --------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------


def _seed_hash(s: int, shingle: Column, hash_fn: str) -> Column:
    if hash_fn == "md5":
        # hex string — DuckDB-reproducible, used by the oracle config
        return F.md5(F.concat(F.lit(f"{s}|"), shingle))
    if hash_fn == "xxhash64":
        # one BIGINT per seed — the production default
        return F.xxhash64(F.lit(s), shingle)
    raise ValueError(f"unknown minhash hash_fn {hash_fn!r}")


#: max min() columns per aggregation operator. Wide aggregates hit
#: the same JVM cliff simhash64's vote sums did: 32 min columns run
#: 4.3s, 64 run 5.9s, 128 run 17s on the same 7.5M-shingle stream at
#: 10x bench scale (the generated update path stops being JIT-friendly
#: — spark.sql.codegen.maxFields, the two-level agg map confs and
#: -XX:-DontCompileHugeMethods all change nothing). Chunking to 32 and
#: joining the chunk signatures on doc_id ran 5.6-8.0s for K=128 even
#: though each chunk re-shingles the corpus (the chunk subtrees are
#: independent and schedule in parallel).
_AGG_CHUNK = 32


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    seeds: int = MINHASH_SEEDS,
    hash_fn: str = MINHASH_HASH,
) -> DataFrame:
    """(doc_id, mh0..mh{K-1}): K min-hashes, aggregated in chunks of
    ``_AGG_CHUNK`` seed columns joined on doc_id (one pass — the plan
    today's defaults and every driver-checked config produce — for
    K <= 32; see _AGG_CHUNK for why wider single aggregates lose).
    Each seed's hash is deterministic and engine-independent — see
    MINHASH_HASH for the family choice."""
    sh = shingles(df, text_col)

    def chunk_agg(lo: int, hi: int) -> DataFrame:
        aggs = [
            F.min(_seed_hash(s, F.col("shingle"), hash_fn)).alias(f"mh{s}")
            for s in range(lo, hi)
        ]
        return sh.groupBy("doc_id").agg(*aggs)

    out = chunk_agg(0, min(seeds, _AGG_CHUNK))
    for lo in range(_AGG_CHUNK, seeds, _AGG_CHUNK):
        # inner join is exact: a doc yields shingles in every chunk or
        # in none, so the doc sets of all chunk frames are identical
        out = out.join(chunk_agg(lo, min(lo + _AGG_CHUNK, seeds)), "doc_id")
    if seeds > _AGG_CHUNK:
        out = out.select("doc_id", *[f"mh{s}" for s in range(seeds)])
    return out


def lsh_candidate_pairs(
    sig: DataFrame, seeds: int = MINHASH_SEEDS, band_size: int = BAND_SIZE
) -> DataFrame:
    """Band the signature and self-join per band: docs agreeing on ALL
    rows of any band become candidate pairs (doc_a < doc_b).

    The join key is ONE BIGINT: xxhash64(band_number, band's mh
    columns). Folding the band number into the hash collapses the old
    (band, band_key) composite into a single 8-byte key, so only
    (doc_id, key) = 16 bytes per (doc, band) ride the self-join — vs
    ~256 bytes/row when the key was band_size concatenated md5 hex
    strings (at the production 128/16 config: 16 such strings per
    doc). Semantics are identical modulo 64-bit hash collisions
    (~n^2/2^65 for n (doc,band) rows — vanishing, and any spurious
    candidate still gets exact-Jaccard verified downstream)."""
    n_bands = seeds // band_size
    # ALL band keys in ONE projection + explode — a per-band
    # select+union would re-derive the signature aggregation once per
    # band (16 recomputes at the production config)
    keys = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.col(f"mh{b * band_size + r}") for r in range(band_size)],
            )
            for b in range(n_bands)
        ]
    )
    banded = sig.select(F.col("doc_id"), F.explode(keys).alias("band_key"))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


def jaccard_verify(
    pairs: DataFrame, df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs. Counts are exact ints
    (inter_cnt/union_cnt) so downstream thresholds are reproducible
    bit-for-bit; similarity = inter/union when a ratio is wanted.

    The index keys on xxhash64(shingle) BEFORE the distinct, so the
    dedup shuffle and both intersection joins handle 8-byte longs
    instead of shingle strings (the string-keyed distinct alone was
    6.3s of minhash_near_dups' 18.8s first rep at 10x bench scale).
    Same 64-bit-collision trade as jaccard_ngram_pairs' index and the
    LSH band keys: ~|shingles|^2/2^64, vanishing.

    The distinct shingle index feeds three branches (sizes and both
    intersection sides) and is not persisted: Spark reuses the
    exchange of the identical distinct, and a persist only added jobs
    and a cache the caller never released."""
    sh = (
        shingles(df, text_col)
        .select("doc_id", F.xxhash64("shingle").alias("_h"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # |A ∩ B|: equi-join on BOTH (doc, hash) so the shingle hash is
    # part of the hash-join key — never a per-pair cross product
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "_h")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "_h")
    inter = (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "_h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_cnt"))
    )
    out = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce(F.col("inter_cnt"), F.lit(0)).alias("inter_cnt"),
            (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("inter_cnt"), F.lit(0))).alias(
                "union_cnt"
            ),
        )
    )
    return out


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    seeds: int = MINHASH_SEEDS,
    band_size: int = BAND_SIZE,
    hash_fn: str = MINHASH_HASH,
) -> DataFrame:
    """The full shingle->minhash->band->bucket-join->verify plan.
    The signature frame feeds both self-join sides of the band
    bucket-join; Spark reuses the signature aggregation's exchange for
    the second side, so it is not persisted and the call leaves no
    cache behind."""
    sig = minhash_signature(df, text_col, seeds, hash_fn)
    pairs = lsh_candidate_pairs(sig, seeds, band_size)
    return jaccard_verify(pairs, df, text_col)


# --------------------------------------------------------------------
# SimHash (64-bit, word-feature, multiset-weighted)
# --------------------------------------------------------------------


def simhash64(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) with simhash as a 16-hex-char string.

    Per word w: h = md5(w); bit b of the 64-bit signature votes
    +1/-1 by bit b of h's first 16 nibbles; sign of the vote sum sets
    the bit. String output sidesteps 64-bit sign issues and is
    engine-portable.

    Scale shape: the per-bit vote sums ride ONE groupBy(doc_id) — the
    only exchange, with map-side partial aggregation. The bit
    extraction runs as plan-time-constant INTEGER expressions over two
    32-bit halves of the digest (conv the first/second 8 hex chars
    once per token, then shift+mask per bit) — bit b of the converted
    half IS bit (3 - b%4) of hex nibble b//4, so the votes are
    identical to the per-nibble string form, at a fraction of the
    cost: the old instr/substr-per-bit form ran 64 string scans per
    token (measured ~2x the whole query wall at 10x bench scale). (No
    tokens x 64 row explosion either: an earlier formulation shuffled
    64x the token count into a groupBy(doc_id, bit).)

    Aggregate width matters: 64 separate SUM columns push the
    generated aggregate-update method past the JVM's huge-method JIT
    threshold and the whole stage runs effectively interpreted — a
    measured CLIFF between 32 and 64 sum columns (4.3s vs 24.7s for
    the same token stream at 10x bench scale; raising
    spark.sql.codegen.maxFields does nothing). So bit pairs (2j,
    2j+1) pack into ONE bigint lane-sum each: per token the packed
    term is (bit_2j << 31) + bit_2j+1, so SUM(p_j) accumulates
    cnt(bit 2j) in the high lane and cnt(bit 2j+1) in the low lane —
    33 aggregate columns (32 packed sums + the token count n), under
    the cliff. The signature bit is then set iff 2*cnt_b > n, which
    is EXACTLY the old sign test (the +/-1 vote sum is 2*cnt_b - n).
    Lanes are exact while every doc has < 2^31 tokens; a doc at or
    past that fails loudly per row (a deterministic ANSI CAST_OVERFLOW
    — see the guard comment for why not raise_error) instead of
    silently corrupting lanes."""
    w = words_col(F.col(text_col))
    tokens = (
        df.select("doc_id", F.explode(w).alias("word"))
        .withColumn("h", F.md5(F.col("word")))
        # two integer halves of the first 16 nibbles, converted once
        .withColumn("x1", F.expr("cast(conv(substr(h, 1, 8), 16, 10) as bigint)"))
        .withColumn("x2", F.expr("cast(conv(substr(h, 9, 8), 16, 10) as bigint)"))
    )

    # bit_b = bit b of the digest's nibble b//4. Within half x (8
    # big-endian nibbles), nibble j sits at bits (7-j)*4..(7-j)*4+3,
    # and the weight-[8,4,2,1][b%4] bit of the nibble is its bit
    # 3-(b%4) — pure codegen shift/mask arithmetic.
    def _bit(b: int) -> Column:
        half = "x1" if b < 32 else "x2"
        j = (b // 4) % 8
        pos = (7 - j) * 4 + (3 - b % 4)
        return F.shiftright(F.col(half), pos).bitwiseAND(F.lit(1))

    lane_cap = 1 << 31
    packed = [
        (F.shiftleft(_bit(2 * j), 31) + _bit(2 * j + 1)).alias(f"p{j}")
        for j in range(32)
    ]
    sums = (
        tokens.select("doc_id", *packed)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[F.sum(f"p{j}").alias(f"sp{j}") for j in range(32)],
        )
    )

    def _cnt(b: int) -> Column:
        j, lo = divmod(b, 2)
        if lo == 0:
            return F.shiftright(F.col(f"sp{j}"), 31)
        return F.col(f"sp{j}").bitwiseAND(F.lit(lane_cap - 1))

    bits = [
        F.when(_cnt(b) * 2 > F.col("_n"), F.lit(1)).otherwise(F.lit(0))
        for b in range(64)
    ]
    hex_arr = F.array(*[F.lit(c) for c in _HEX])
    nib_chars = [
        F.element_at(
            hex_arr,
            bits[4 * nb] * 8 + bits[4 * nb + 1] * 4
            + bits[4 * nb + 2] * 2 + bits[4 * nb + 3] + 1,
        )
        for nb in range(16)
    ]
    # The lane-capacity guard wraps the FINAL concat exactly once (a
    # guard folded into _n itself gets inlined by the optimizer into
    # all 64 bit expressions — measured +0.3s/run of pure plan bloat),
    # and it must be DETERMINISTIC: raise_error() is a nondeterministic
    # expression, and one nondeterministic node anywhere in the plan
    # defeats CacheManager's canonicalized-plan lookup — callers like
    # simhash_near_dups persist this frame, and with raise_error in
    # the tree every re-derivation MISSED the cache and recomputed the
    # signature (measured +2s/rep). So the overflow row instead casts
    # _n to int: under ANSI mode (Spark 4 default, every engine
    # session) that throws CAST_OVERFLOW at exactly the offending
    # row; with ANSI off it yields a clearly-invalid non-hex marker
    # string rather than a silently corrupt signature.
    sig = F.concat(*nib_chars)
    guarded = F.when(F.col("_n") < F.lit(lane_cap), sig).otherwise(
        F.concat(
            F.lit("simhash64 token-count overflow: "),
            F.col("_n").cast("int").cast("string"),
        )
    )
    return sums.select("doc_id", guarded.alias("simhash"))


def hamming64_expr(col_a: str, col_b: str) -> Column:
    """Hamming distance between two 16-hex-char SimHash columns
    (referenced BY NAME) as 16 plan-time-constant nibble expressions:
    bit_count(nibble_a XOR nibble_b) summed per position. Pure
    whole-stage codegen — no UDF, no explode."""
    total: Column | None = None
    for p in range(1, 17):
        t = F.expr(
            f"bit_count((instr('{_HEX}', substr({col_a}, {p}, 1)) - 1) "
            f"^ (instr('{_HEX}', substr({col_b}, {p}, 1)) - 1))"
        )
        total = t if total is None else total + t
    return total.cast("int")


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int | None = 1_000_000,
) -> DataFrame:
    """SimHash near-duplicate pairs: (doc_a, doc_b, hamming) with
    doc_a < doc_b and hamming <= max_hamming.

    Candidate generation is the pigeonhole banding trick: split the
    64-bit signature into ``max_hamming + 1`` contiguous nibble bands
    — any pair within the hamming budget must agree EXACTLY on at
    least one band, so candidates come from a bucketed equi-self-join
    on (band_idx, band_value), never an all-pairs product. The verify
    step re-attaches the two 16-char signatures (8 bytes of payload
    per side) and computes exact hamming with codegen nibble algebra
    (hamming64_expr).

    100 TB shape: the band rows carry the 16-char signature (8 bytes
    of payload), so the bucketed self-join computes the exact hamming
    IN the collision stage and applies the threshold there — the
    candidate stream never crosses an exchange, and the only dedup is
    a ``distinct`` over the (tiny) within-threshold result (a pair
    colliding on several bands yields identical hamming values, so
    the distinct collapses them exactly). Text never moves; the
    ``max_bucket_size`` guard drops degenerate buckets (e.g. the
    all-zero signature of empty docs) — via a broadcast ANTI join
    against the (usually empty) oversized set — that would make the
    self-join quadratic, trading recall only on those pathological
    clusters.

    The signature frame feeds THREE plan branches (the guard census
    and both join sides); without materialization Catalyst recomputes
    the tokenize+explode+64-sum aggregation per branch (measured ~4x
    the signature wall at sf0.1), so it is persisted — the
    build-the-signatures-once discipline a production run uses when
    it writes them to a table."""
    if not 0 <= max_hamming <= 15:
        raise ValueError("max_hamming must be in [0, 15]")
    from pyspark.storagelevel import StorageLevel

    sig = simhash64(df, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    n_bands = max_hamming + 1
    widths = [16 // n_bands + (1 if i < 16 % n_bands else 0) for i in range(n_bands)]
    starts = [1 + sum(widths[:i]) for i in range(n_bands)]
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.substring(F.col("simhash"), starts[i], widths[i])
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    if max_bucket_size is not None:
        big = (
            bands.groupBy("band", "band_val")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .drop("_n")
        )
        bands = bands.join(F.broadcast(big), ["band", "band_val"], "left_anti")
    left = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"),
        "band", "band_val",
    )
    right = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"),
        "band", "band_val",
    )
    return (
        left.join(right, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming64_expr("sh_a", "sh_b").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
