"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale notes (the 100 TB contract):
* exact dedup is a hash-groupBy on a 16-byte key — shuffle carries only
  (hash, doc_id), never the text;
* MinHash/LSH turns the quadratic pair problem into an equi-join on band
  keys (shuffle on band_key, AQE handles skewed bands);
* candidate verification re-joins the shingle sets ONLY for candidate
  pairs (a semi-join against the candidate list prunes the scan);
* all hash functions are md5-derived so every engine (and the DuckDB
  oracle) reproduces them bit-for-bit — no JVM-specific hashing in results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .index_store import read_table, write_table
from .text import tokens_col

DEFAULT_MINHASH_K = 8
DEFAULT_BANDS = 4


def _norm_text() -> "F.Column":
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by md5 of normalized text: every doc tagged with its
    duplicate-group size and whether it is the canonical (min doc_id)
    member. Shuffle key = 16-byte hash, not the document."""
    hashed = docs.select("doc_id", F.md5(_norm_text()).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return (hashed
            .withColumn("group_size", F.count("*").over(w))
            .withColumn("canonical_doc_id", F.min("doc_id").over(w))
            .withColumn("is_canonical",
                        F.col("doc_id") == F.col("canonical_doc_id")))


def _widen(df: DataFrame) -> DataFrame:
    """Parallelism floor for the batch gram pass: an input NARROWER than
    the cluster (a small parquet file is one unsplittable row group) is
    hash-repartitioned on doc_id to defaultParallelism; a cluster-wide
    input — the normal case at scale — passes unchanged (guide §2.5). The
    index probe does not use it: its batch is small by construction."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, "doc_id")
    return df


def shingle_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """``(doc_id, sets)``: each document's distinct non-empty token n-gram
    shingles as ONE array row. A document shorter than ``n`` tokens is one
    shingle; empty and null text give an empty array, which has no band
    keys (a row filter on the size would be pushed below the projection
    and compute every array twice). The token array is bound to its own
    column first: codegen's subexpression elimination does not reach into
    lambda bodies, so the regex split would otherwise run once per
    shingle (measured 5.8s -> 0.8s over sf0.1)."""
    toksed = docs.select("doc_id", tokens_col().alias("_toks"))
    toks = F.col("_toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return toksed.select(
        "doc_id", F.array_remove(F.array_distinct(sh), "").alias("sets"))


def _band_keys(sets: DataFrame, k: int, bands: int) -> DataFrame:
    """The one MinHash signature path: ``sets`` rows (``doc_id``, ``sets``,
    any passthrough columns) gain ``band`` and ``band_key``, one row per
    band; an empty set has none. h_i = md5_lo + i*md5_hi (one md5 per
    shingle; values < 2^36, so nothing wraps and the DuckDB oracle is
    bit-identical); signature_i is an ``array_min`` over the row's own
    shingle array, so no explode and no groupBy. The (h1, h2) array is a
    projection with k consumers, so md5 runs once per shingle. A band key
    is the md5 of its ``k // bands`` sorted minhashes."""
    rows_per_band = k // bands
    md = F.transform("sets", lambda s: F.md5(s))
    hashed = sets.withColumn("_h", F.transform(md, lambda m: F.struct(
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"))))
    sig = [F.array_min(F.transform(
        "_h", lambda h: h["h1"] + F.lit(i) * h["h2"])) for i in range(k)]
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", F.sort_array(F.array(
                *sig[b * rows_per_band:(b + 1) * rows_per_band]))))
            .alias("band_key"))
        for b in range(bands)]
    return hashed.select(*sets.columns, F.inline(
        F.when(F.size("sets") > 0, F.array(*entries))))


def lsh_band_keys(docs: DataFrame, k: int = DEFAULT_MINHASH_K,
                  bands: int = DEFAULT_BANDS, n: int = 3) -> DataFrame:
    """LSH banding: ``(doc_id, band, band_key)``. Documents sharing any
    (band, band_key) are near-dup candidates."""
    return _band_keys(shingle_sets(_widen(docs), n), k, bands).select(
        "doc_id", "band", "band_key")


def _jaccard(a: str, b: str) -> "F.Column":
    """Exact Jaccard of two distinct-element arrays, rounded to 6 dp."""
    common = F.size(F.array_intersect(a, b))
    return F.round(common / (F.size(a) + F.size(b) - common), 6) \
        .alias("jaccard")


def minhash_candidates(docs: DataFrame, k: int = DEFAULT_MINHASH_K,
                       bands: int = DEFAULT_BANDS, n: int = 3) -> DataFrame:
    """Candidate near-dup pairs via band-key self-equi-join (a < b keeps
    each pair once), then EXACT Jaccard verification over shingle sets —
    LSH is a prefilter, the verdict is exact (same discipline as the crawl
    bloom filter: approximate structures never decide membership). The
    shingle arrays ride through the band join, so verification needs no
    re-join against a shingle table and no materialized copy of it."""
    keys = _band_keys(shingle_sets(_widen(docs), n), k, bands)
    a, b = keys.alias("a"), keys.alias("b")
    return (a.join(b, ["band", "band_key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.sets").alias("sets_a"),
                    F.col("b.sets").alias("sets_b"))
            .dropDuplicates(["doc_a", "doc_b"])
            .select("doc_a", "doc_b", _jaccard("sets_a", "sets_b")))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.5,
                        max_doc_freq: int | None = 1000) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs above a threshold, candidate-
    pruned through shared shingles (never a full cross join).

    ``max_doc_freq`` is the STOP-SHINGLE cap: a shingle appearing in d
    documents contributes d^2 rows to the self-join, so one boilerplate
    phrase becomes a quadratic hot key at corpus scale. Shingles above the
    cap are excluded from CANDIDATE GENERATION only — the Jaccard of the
    surviving pairs still counts every shingle, so scores stay exact; only
    pairs whose overlap is exclusively stop-shingles are missed (such pairs
    sit far below any useful threshold). ``None`` disables the cap.
    The shingle sets feed the candidate shingles, the df filter and both
    verification sides — materialized once."""
    sets = shingle_sets(_widen(docs), n).localCheckpoint()
    sh = sets.select("doc_id", F.explode("sets").alias("shingle"))
    if max_doc_freq is not None:
        rare = (sh.groupBy("shingle")
                .agg(F.count("*").alias("df"))
                .filter(F.col("df") <= max_doc_freq)
                .select("shingle"))
        sh = sh.join(rare, "shingle", "left_semi")
    cand = (sh.alias("x").join(sh.alias("y"), "shingle")
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("doc_a"),
                    F.col("y.doc_id").alias("doc_b"))
            .distinct())

    def side(c: str) -> DataFrame:
        return sets.select(F.col("doc_id").alias(f"doc_{c}"),
                           F.col("sets").alias(f"sets_{c}"))

    return (cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
            .select("doc_a", "doc_b", _jaccard("sets_a", "sets_b"))
            .filter(F.col("jaccard") >= threshold))


SIMHASH_BITS = 64
# tokens per vote block: bounds the chunk x 64 vote matrix (8 MB here)
SIMHASH_CHUNK_TOKENS = 1 << 14


# Java-exact tokenization twins of tokens_col() for Python-side kernels:
# String.trim strips every char <= U+0020 from both ends; Java regex \s is
# the ASCII class [ \t\n\x0B\f\r]. Python str.strip()/\s are Unicode-wide,
# so the Python side must use these explicit twins or exotic-whitespace
# documents would tokenize differently than the Catalyst/DuckDB planes.
_JAVA_TRIM_CHARS = "".join(chr(i) for i in range(0x21))


def _java_tokens(text: str) -> list[str]:
    import re
    return re.split(r"[ \t\n\x0B\f\r]+", text.strip(_JAVA_TRIM_CHARS))


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash: per token, a 64-bit md5-derived hash (two 32-bit hex halves
    — no signed-overflow parsing) votes ±1 on each bit; the sign vector is
    the document's simhash, packed into a SIGNED long (bit 63 contributes
    -2^63, two's complement — identical arithmetic in the DuckDB oracle).

    Implementation: SimHash is a PURE PER-DOCUMENT function of the token
    list, so it runs as ``mapInArrow`` + NumPy with NO shuffle at all —
    the previous single-groupBy formulation (explode to token rows, 32
    lane-packed vote columns, one aggregation) still exchanged a 33-column
    summary per document; this exchanges nothing (guide §2.4: remove the
    shuffle outright, and §4.2: batch native code over Arrow). Arithmetic
    is bit-identical: same md5-derived h = (hi<<32)|lo per token, same
    2*ones > n majority vote per bit, same two's-complement packing; the
    tokenizer is the Java-exact twin of tokens_col() (trim <= U+0020,
    ASCII \\s+), so null text emits no row and empty text tokenizes to
    the single empty token, exactly as explode(split(trim(text))).
    Measured 2.0s -> 0.8s on the q26 noop leg at sf0.1.

    The tokens vote in blocks of ``SIMHASH_CHUNK_TOKENS`` (the per-bit
    ``ones`` count is a sum, so blocks add up to the same votes), so the
    vote matrix is at most chunk x 64 at any document length."""
    import hashlib

    import numpy as np
    import pyarrow as pa

    if bits != 64:
        raise ValueError("simhash packs into one signed long; bits must be 64")
    id_field = docs.schema["doc_id"]
    out_schema = T.StructType([id_field,
                               T.StructField("simhash", T.LongType())])
    shifts = np.arange(64, dtype=np.uint64)
    chunk = SIMHASH_CHUNK_TOKENS

    def run(batches):
        for b in batches:
            texts = b.column("text").to_pylist()
            take_idx: list[int] = []
            out: list[int] = []
            for i, txt in enumerate(texts):
                if txt is None:
                    continue  # explode(split(trim(null))) emits no row
                toks = _java_tokens(txt)
                # h = (hi << 32) | lo with lo = first 8 hex chars (digest
                # bytes 0..3), hi = next 8 (bytes 4..7) — the conv/substring
                # order of the relational formulation and the DuckDB twin
                hs = np.array(
                    [(int.from_bytes(d[4:8], "big") << 32)
                     | int.from_bytes(d[:4], "big")
                     for d in (hashlib.md5(t.encode("utf-8")).digest()
                               for t in toks)], dtype=np.uint64)
                ones = sum((((hs[at:at + chunk, None] >> shifts)
                             & np.uint64(1)).sum(axis=0)
                            for at in range(0, len(hs), chunk)),
                           np.zeros(64, dtype=np.uint64))
                sign = (2 * ones > len(toks)).astype(np.uint64)
                packed = np.bitwise_or.reduce(sign << shifts)
                take_idx.append(i)
                out.append(int(packed.astype(np.int64)))
            ids = b.column("doc_id").take(pa.array(take_idx, pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(out, pa.int64())], ["doc_id", "simhash"])

    return docs.select("doc_id", "text").mapInArrow(run, out_schema)


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance, candidate-bucketed on
    four 16-bit bands (pigeonhole: a pair within distance d<=3 agrees on
    at least one of the 4 bands). Arithmetic shift + mask is sign-safe."""
    sh = simhash(docs)
    band_cols = [
        F.concat(F.lit(f"b{j}:"),
                 (F.shiftright("simhash", 16 * j)
                  .bitwiseAND(F.lit(0xFFFF))).cast("string"))
        for j in range(4)]
    halves = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*band_cols)).alias("bucket"))
    cand = (halves.alias("a").join(halves.alias("b"), "bucket")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.simhash").alias("sh_a"),
                    F.col("b.simhash").alias("sh_b"))
            .distinct())
    return (cand
            .withColumn("hamming", F.bit_count(
                F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def _dup_clusters_star(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    O(log^2 n)-round path for ADVERSARIALLY DEEP graphs, where plain
    min-label propagation needs O(diameter) rounds.

    Per round over the current edge set E (symmetrized to adjacency):
    * large-star: every node u links each STRICTLY LARGER neighbor v to
      m(u) = min(N(u) + {u});
    * small-star: every node u links each neighbor v <= u to m(u).
    Self-loops drop, edges dedupe; converged when the edge multiset's
    (count, hash-sum) checksum is stable — one 1-row driver read per
    round, never the edges themselves. At the fixpoint every node points
    straight at its component minimum (a star), which IS the label."""
    sym = (pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
           .unionByName(pairs.select(F.col("doc_b").alias("u"),
                                     F.col("doc_a").alias("v"))))
    nodes = sym.select(F.col("u").alias("doc_id")).distinct().localCheckpoint()
    edges = sym.filter(F.col("u") != F.col("v")).distinct().localCheckpoint()

    def star(e: DataFrame, large: bool) -> DataFrame:
        adj = e.unionByName(e.select(F.col("v").alias("u"),
                                     F.col("u").alias("v")))
        mins = (adj.groupBy("u")
                .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        side = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        out = (adj.filter(side).join(mins, "u")
               .select(F.col("v").alias("u"), F.col("m").alias("v")))
        if not large:
            # small-star also links u ITSELF to m (Kiveris Alg. 2 emits
            # (v, m) for v in N ∪ {u}); dropping it disconnects u
            out = out.unionByName(mins.select("u", F.col("m").alias("v")))
        return out.filter(F.col("u") != F.col("v")).distinct()

    def checksum(e: DataFrame) -> tuple:
        # decimal(38,0) sums: exact and overflow-free under ANSI mode.
        # Two INDEPENDENT hash-sums (different seed columns) — a collision
        # must now hold simultaneously in both order-insensitive sums,
        # and even then the exact diff below catches it (ADVICE r4: the
        # single hash-sum alone made early termination merely
        # overwhelmingly likely, not exact).
        row = e.agg(F.count("*").alias("n"),
                    F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))
                    .alias("h"),
                    F.sum(F.xxhash64(F.lit(0x5eed), "u", "v")
                          .cast("decimal(38,0)")).alias("h2")).first()
        return (row["n"], row["h"], row["h2"])

    prev_edges = edges
    prev = checksum(edges)
    for _ in range(max_iter):
        edges = star(star(edges, large=True), large=False).localCheckpoint()
        cur = checksum(edges)
        if cur == prev:
            # checksum match is a cheap screen; confirm the fixpoint with
            # ONE exact set comparison (both sides are distinct by
            # construction, so symmetric-difference emptiness == equality).
            # Runs once per converged call, not once per round.
            if (edges.exceptAll(prev_edges).unionByName(
                    prev_edges.exceptAll(edges)).isEmpty()):
                break
        prev = cur
        prev_edges = edges
    else:
        raise RuntimeError(
            f"dup_clusters (star) did not converge in {max_iter} rounds")
    # star fixpoint: each non-minimum node has exactly its component min as
    # neighbor; minima label themselves
    point = edges.groupBy("u").agg(F.min("v").alias("label"))
    labels = (nodes.join(point, nodes.doc_id == point.u, "left")
              .select("doc_id",
                      F.coalesce(F.least("label", "doc_id"), "doc_id")
                      .alias("label")))
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (labels.join(sizes, "label")
            .select("doc_id", F.col("label").alias("cluster_id"),
                    "cluster_size",
                    (F.col("doc_id") == F.col("label")).alias("is_canonical")))


def dup_clusters(pairs: DataFrame, max_iter: int = 25,
                 algorithm: str = "label") -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected components
    with ``cluster_id`` = the lexicographic-min doc_id of the component,
    plus ``cluster_size`` and the ``is_canonical`` flag (the member every
    dedup pipeline keeps). This is the step that turns pairwise
    MinHash/SimHash/Jaccard verdicts into an actionable keep/drop list.

    Algorithm: iterative min-label propagation — each round every node
    adopts the min label among itself and its neighbors; converges in
    O(component diameter) rounds (near-dup components are shallow: dup
    clusters are cliques or short chains, so 2-4 rounds in practice, with
    ``max_iter`` as a hard stop that raises rather than returning
    unconverged labels). Each round is one equi-join + groupBy on
    (node, label) pairs — never materializes components on the driver; the
    per-round ``localCheckpoint`` truncates the iterative plan.

    ``algorithm="star"`` swaps the body for the large-star/small-star
    rounds of Kiveris et al. (``_dup_clusters_star``): O(log^2 n) rounds
    instead of O(diameter) — the scale path for adversarially deep graphs.
    Both return identical results (property-tested against each other on
    random graphs in tests/test_analytics.py).
    """
    if algorithm == "star":
        return _dup_clusters_star(pairs, max_iter=max(max_iter, 50))
    if algorithm != "label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst")))
             .distinct().persist())
    labels = (edges.select(F.col("src").alias("doc_id")).distinct()
              .withColumn("label", F.col("doc_id"))).localCheckpoint()
    for _ in range(max_iter):
        neigh = (edges.join(labels, edges.src == labels.doc_id)
                 .groupBy(F.col("dst").alias("doc_id"))
                 .agg(F.min("label").alias("nl")))
        new_labels = (labels.join(neigh, "doc_id", "left")
                      .select("doc_id",
                              F.least(F.col("label"),
                                      F.coalesce("nl", "label"))
                              .alias("label"))).localCheckpoint()
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "doc_id")
                   .filter(F.col("n.label") != F.col("o.label")).count())
        labels = new_labels
        if not changed:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iter} rounds")
    edges.unpersist()
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (labels.join(sizes, "label")
            .select("doc_id", F.col("label").alias("cluster_id"),
                    "cluster_size",
                    (F.col("doc_id") == F.col("label")).alias("is_canonical")))


def fingerprint_containment_pairs(docs: DataFrame, k: int = 8, w: int = 4,
                                  threshold: float = 0.5,
                                  max_doc_freq: int | None = 100) -> DataFrame:
    """MOSS-style copy detection over winnowing fingerprints
    (``text.rolling_fingerprints``): pairs whose CONTAINMENT —
    shared fingerprints / min(per-doc fingerprints) — clears ``threshold``.

    Containment is the near-dup axis resemblance metrics miss: a page
    embedded verbatim inside a much larger page has near-zero Jaccard /
    MinHash resemblance but containment ~1.0 — the winnowing guarantee
    (any shared run >= k+w-1 chars leaves a shared fingerprint) makes the
    shared-count a dense estimator of copied extent.

    Same scale contract as ``ngram_jaccard_pairs``: candidates come from
    an equi-join on fp_hash, never a cross join; ``max_doc_freq`` is the
    stop-hash cap (a fingerprint in d docs fans out d^2 candidate rows, so
    boilerplate becomes a quadratic hot key) applied to CANDIDATE
    GENERATION only — surviving pairs count every shared fingerprint, so
    scores stay exact; only pairs whose entire overlap is stop-hashes are
    missed (below any useful threshold by construction). ``None`` disables
    the cap.

    The default cap is 100: an 8-char gram shared by >100 documents is
    boilerplate under any corpus, and sum(df^2) — the candidate-join row
    count — is what the cap actually bounds (measured at sf0.1: cap 1000
    admitted 145M join rows on this small-vocabulary corpus, cap 100
    admits 2.5M, a 58x cut with identical surviving-pair scores).

    The fingerprint subtree feeds several consumers (sizes / candidates /
    verification), so it is materialized ONCE via localCheckpoint (the
    q40/global_sequence precedent) instead of re-executing the per-char
    hashing pass per branch; on a fault-tolerant cluster swap this for
    persist() or a written index (``rolling_fingerprints`` output IS the
    reusable artifact — the IVF pattern).

    Shared-count assembly avoids re-joining candidate pairs against the
    full fingerprint table: since ``fp`` is distinct per (doc_id,
    fp_hash), every shared RARE hash contributes exactly one row to the
    rare self-join, so ``groupBy(pair).count()`` on that join IS the
    rare overlap (no ``distinct`` + rejoin pass). The stop-hash
    contribution is recovered from the stop-hash rows alone — a set
    bounded by (distinct stop hashes) x max df, tiny next to ``fp`` —
    keeping scores bit-identical to the uncapped definition for every
    surviving pair."""
    from .text import fingerprint_doc_sets

    # distinct (doc, hash) rows + per-doc set size straight from the
    # winnowing kernel (text.fingerprint_doc_sets): the corpus-wide
    # distinct Exchange, the sizes aggregation, and the two final size
    # joins all disappear — n_fp rides the fingerprint rows through the
    # candidate join and is recovered with a first()-style min() in the
    # pair aggregation (every row of a pair group carries the same value).
    fp = fingerprint_doc_sets(docs, k, w).localCheckpoint()
    if max_doc_freq is None:
        inter = (fp.alias("x").join(fp.alias("y"), "fp_hash")
                 .filter(F.col("x.doc_id") < F.col("y.doc_id"))
                 .groupBy(F.col("x.doc_id").alias("doc_a"),
                          F.col("y.doc_id").alias("doc_b"))
                 .agg(F.count("*").alias("n_shared"),
                      F.min(F.col("x.n_fp")).alias("n_a"),
                      F.min(F.col("y.n_fp")).alias("n_b")))
    else:
        freq = fp.groupBy("fp_hash").agg(F.count("*").alias("df"))
        rare = freq.filter(F.col("df") <= max_doc_freq).select("fp_hash")
        stop = freq.filter(F.col("df") > max_doc_freq).select("fp_hash")
        cand_fp = fp.join(rare, "fp_hash", "left_semi")
        # one row per (pair, shared rare hash) -> count IS the rare overlap
        rare_inter = (cand_fp.alias("x").join(cand_fp.alias("y"), "fp_hash")
                      .filter(F.col("x.doc_id") < F.col("y.doc_id"))
                      .groupBy(F.col("x.doc_id").alias("doc_a"),
                               F.col("y.doc_id").alias("doc_b"))
                      .agg(F.count("*").alias("n_rare"),
                           F.min(F.col("x.n_fp")).alias("n_a"),
                           F.min(F.col("y.n_fp")).alias("n_b")))
        # stop-hash overlap, computed only for pairs already admitted by
        # a rare hash. Each doc's stop hashes collapse to ONE array row
        # (bounded by the distinct-stop-hash count, ~100 entries here),
        # so the pair table joins against single rows per side instead of
        # fanning out per (pair, stop hash) — measured 92x fanout cut at
        # sf0.1. size(array_intersect) is exact on distinct inputs.
        stop_sets = (fp.join(stop, "fp_hash", "left_semi")
                     .groupBy("doc_id")
                     .agg(F.collect_set("fp_hash").alias("stop_set")))
        stop_inter = (rare_inter.select("doc_a", "doc_b")
                      .join(stop_sets.select(
                          F.col("doc_id").alias("doc_a"),
                          F.col("stop_set").alias("set_a")), "doc_a")
                      .join(stop_sets.select(
                          F.col("doc_id").alias("doc_b"),
                          F.col("stop_set").alias("set_b")), "doc_b")
                      .select("doc_a", "doc_b",
                              F.size(F.array_intersect("set_a", "set_b"))
                              .alias("n_stop")))
        inter = (rare_inter.join(stop_inter, ["doc_a", "doc_b"], "left")
                 .select("doc_a", "doc_b",
                         (F.col("n_rare")
                          + F.coalesce("n_stop", F.lit(0)))
                         .alias("n_shared"),
                         "n_a", "n_b"))
    scored = inter.select(
        "doc_a", "doc_b", "n_shared",
        F.round(F.col("n_shared") / F.least("n_a", "n_b"), 6)
        .alias("containment"))
    return scored.filter(F.col("containment") >= threshold)


def write_minhash_index(docs: DataFrame, path: str,
                        k: int = DEFAULT_MINHASH_K,
                        bands: int = DEFAULT_BANDS, n: int = 3) -> None:
    """Materialize the MinHash/LSH dedup index for INCREMENTAL ingestion —
    the build-once/probe-many counterpart of ``minhash_candidates``. A
    nightly pipeline indexes the accepted corpus ONCE; each new batch then
    probes it instead of re-deduping the world. Two tables, each with its
    recorded schema (``index_store``):

    * ``{path}/sets`` — one ``(doc_id, sets)`` row per document, its
      distinct shingles as an array: all the exact verifier needs.
    * ``{path}/bands`` — ``(doc_id, band, band_key)``, computed from the
      written ``sets`` (one gram pass) and written ``partitionBy("bkp")``
      (the band_key's first hex byte, 256 directories), so a probe's
      broadcast join on the partition column prunes to the directories
      its own band keys land in. The write clusters by ``bkp`` first
      (guide §6), so each directory is one task's file; the width is
      explicit because AQE would coalesce a small index into one task
      that writes all 256 files serially."""
    write_table(shingle_sets(_widen(docs), n), f"{path}/sets")
    keys = (_band_keys(read_table(docs.sparkSession, f"{path}/sets"),
                       k, bands)
            .select("doc_id", "band", "band_key",
                    F.substring("band_key", 1, 2).alias("bkp")))
    width = docs.sparkSession.sparkContext.defaultParallelism
    write_table(keys.repartition(width, "bkp"), f"{path}/bands", "bkp")


def probe_minhash_index(spark, path: str, new_docs: DataFrame,
                        k: int = DEFAULT_MINHASH_K,
                        bands: int = DEFAULT_BANDS, n: int = 3) -> DataFrame:
    """Probe a persisted MinHash index with an incremental batch:
    ``(new_doc, idx_doc, jaccard)`` for every candidate pair between the
    batch and the indexed corpus, with the exact-Jaccard verdict computed
    over the shingle sets (LSH prefilters, exactness decides — the
    invariant every dedup surface here shares).

    Scale shape: the batch is small by construction (it is one ingestion
    increment), so the batch side BROADCASTS at every step and the
    index-side scans never shuffle. The batch's band keys carry its
    shingle arrays; their broadcast join against ``bands`` prunes
    ``bkp`` partitions, and the candidate pairs (still carrying the batch
    arrays) broadcast into the ``sets`` scan, where
    ``size(array_intersect(...))`` is the exact overlap. The batch gram
    pass runs once, inside the broadcast, with no eager barrier."""
    new_keys = (_band_keys(shingle_sets(new_docs, n), k, bands)
                .select(F.col("doc_id").alias("new_doc"),
                        F.col("sets").alias("new_sets"), "band", "band_key",
                        F.substring("band_key", 1, 2).alias("bkp")))
    cand = (read_table(spark, f"{path}/bands")
            .join(F.broadcast(new_keys), ["bkp", "band", "band_key"])
            .filter(F.col("doc_id") != F.col("new_doc"))
            .select("new_doc", F.col("doc_id").alias("idx_doc"), "new_sets")
            .dropDuplicates(["new_doc", "idx_doc"]))
    return (read_table(spark, f"{path}/sets")
            .join(F.broadcast(cand), F.col("doc_id") == F.col("idx_doc"))
            .select("new_doc", "idx_doc", _jaccard("new_sets", "sets")))


def cdc_chunk_stats(docs: DataFrame, k: int = 8, mask: int = 64,
                    min_count: int = 2) -> DataFrame:
    """Content-defined chunking + chunk-level exact dedup — the LBFS /
    FastCDC-family storage primitive: cut each document where the
    Rabin-Karp ``k``-gram hash of the lowercased text satisfies
    ``h % mask == 0`` (average chunk ~``mask`` chars), so an insertion
    shifts at most the two chunks around the edit while fixed-offset
    blocking reshuffles everything after it. Chunks dedupe EXACTLY by
    md5 across the corpus (multiplicity counted, within-doc included).

    Cut rule (deterministic, oracle-reproducible): cut points are 0 plus
    every gram START position p > 0 with ``h_p % mask == 0``; chunk i =
    ``[cut_i, cut_{i+1})``, last chunk runs to end-of-doc; docs shorter
    than ``k`` are one chunk. Output, one row per document:
    ``n_chunks``, ``n_dup_chunks`` (chunks whose md5 occurs >=
    ``min_count`` times corpus-wide) and ``dup_chunk_chars`` (characters
    those chunks cover — 1 - dup/total is the storage-dedup ratio).

    Scale shape: cuts and chunk substrings are per-row higher-order
    functions (no shuffle); the dedup plane explodes O(chars/mask) chunk
    rows, one map-side-combinable groupBy on the chunk hash, one
    equi-join back. The shuffle carries (md5, doc_id, length) — chunk
    TEXT never shuffles (hash projected before the join)."""
    base = docs.select("doc_id", F.lower(F.col("text")).alias("_s"))
    codes = base.select(
        "doc_id", "_s",
        F.transform(F.split(F.col("_s"), ""),
                    lambda c: F.ascii(c)).alias("_codes"))
    from .text import _char_gram_hashes
    gram_hash = _char_gram_hashes("_codes", k)
    hs = F.when(F.length("_s") >= k, gram_hash) \
        .otherwise(F.array().cast("array<long>"))
    with_cuts = (codes.select("doc_id", "_s", hs.alias("_hs"))
                 .select("doc_id", "_s", F.concat(
                     F.array(F.lit(0)),
                     F.filter(F.sequence(F.lit(0),
                                         F.greatest(F.size("_hs") - 1,
                                                    F.lit(0))),
                              lambda p: (p > 0)
                              & (F.element_at(F.col("_hs"), p + 1)
                                 % mask == 0)),
                     F.array(F.length("_s"))).alias("_cuts")))
    chunk_structs = F.transform(
        F.sequence(F.lit(1), F.size("_cuts") - 1),
        lambda j: F.struct(
            F.col("_s").substr(
                F.element_at(F.col("_cuts"), j) + 1,
                F.element_at(F.col("_cuts"), j + 1)
                - F.element_at(F.col("_cuts"), j)).alias("chunk")))
    # zero-length tail when the last cut == doc length (a boundary at the
    # final gram start with k == remaining chars can't happen for k >= 1,
    # but a cut at position n would): filter empties for a clean contract
    ch = (with_cuts.select(
        "doc_id", F.explode(chunk_structs).alias("_c"))
        .select("doc_id", F.col("_c.chunk").alias("chunk"))
        .filter(F.length("chunk") > 0)
        .select("doc_id", F.md5("chunk").alias("ch_h"),
                F.length("chunk").alias("ch_len")))
    dup = (ch.groupBy("ch_h").agg(F.count(F.lit(1)).alias("_c"))
           .filter(F.col("_c") >= min_count).select(
               "ch_h", F.lit(True).alias("_dup")))
    return (ch.join(dup, "ch_h", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_chunks"),
                 F.sum(F.when(F.col("_dup"), 1).otherwise(0))
                 .cast("int").alias("n_dup_chunks"),
                 F.sum(F.when(F.col("_dup"), F.col("ch_len"))
                       .otherwise(F.lit(0)))
                 .cast("int").alias("dup_chunk_chars")))


def quality_canonical(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """Quality-aware canonical selection — the last step of a production
    dedup pass: instead of keeping each duplicate cluster's min-id member
    (``dup_clusters``' is_canonical), keep its BEST member by a
    deterministic quality order: quality_ok first, then more tokens, then
    smallest doc_id (total order, engine-portable). Input: the
    ``dup_clusters`` output and a ``quality_scores``-shaped frame.
    Output: (doc_id, cluster_id, cluster_size, n_tokens, is_kept) with
    exactly one kept row per cluster.

    Scale shape: one equi-join + a window partitioned by cluster_id —
    partitions are duplicate clusters (bounded, skew-handled by AQE),
    never the corpus."""
    j = clusters.join(quality.select("doc_id", "quality_ok", "n_tokens"),
                      "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_ok"), F.desc("n_tokens"), F.asc("doc_id"))
    return (j.withColumn("is_kept", F.row_number().over(w) == 1)
            .select("doc_id", "cluster_id",
                    F.col("cluster_size").cast("long").alias("cluster_size"),
                    "n_tokens", "is_kept"))
