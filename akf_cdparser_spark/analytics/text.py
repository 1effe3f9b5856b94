"""Text analysis over a document corpus — language-ID heuristic, quality
scoring, token counting, fingerprinting, and the reference's LSE token-class
histogram (lib/lineSegmentAnalyzer.js) re-expressed relationally.

Everything here is pure ``pyspark.sql.functions`` (JVM-side, whole-stage
codegen) — no Python in the hot path. Each op has an exact DuckDB-SQL twin
in plans/queries.py so the driver's oracle can value-hash it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .index_store import read_table, write_table

# deterministic tiny stopword lists for the language-ID heuristic
DE_STOPWORDS = ("der", "die", "das", "und", "nicht", "mit", "ist", "von")
EN_STOPWORDS = ("the", "and", "not", "with", "is", "of", "to", "a")


def tokens_col(text: str | Column = "text") -> Column:
    """Whitespace tokenization matching DuckDB regexp_split_to_array
    semantics on trimmed input."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.size(tokens_col()).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


# Rabin-Karp / winnowing parameters: polynomial base, modulus (fits every
# intermediate in a signed 64-bit long: acc*257 + codepoint < 1e9*257+2^21),
# and the position-packing shift. hash < 2^30, so a 31-bit position field
# still fits signed 64 (30+31=61 bits) — and 2^31-1 is the JVM string
# length ceiling, so NO representable document can overflow the position
# field into the hash bits (a 20-bit field silently corrupted docs >=
# 2^20 chars; ADVICE r5).
FP_BASE = 257
FP_MOD = 1_000_000_007
FP_POS_BITS = 31


def _char_gram_hashes(codes_col, k: int):
    """Array of Rabin-Karp hashes, one per character ``k``-gram start, over
    a bound codepoint-array column — THE polynomial every char-hash plane
    shares (winnowing q73, repeated spans q99, CDC chunking q103; the
    DuckDB twins' HUGEINT/mod-reduced power literals encode the same
    fold). ``codes_col`` must be a PROJECTED column, not an inline
    expression: it has two consumers here (sequence bound + slice), which
    is what keeps CollapseProject from re-inlining the per-char split
    into the lambda (the documented lambda-CSE O(n) vs O(n^2) hazard)."""
    c = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    return F.transform(
        F.sequence(F.lit(0), F.size(c) - k),
        lambda i: F.aggregate(
            F.slice(c, i + 1, k),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * FP_BASE + ch) % FP_MOD))


def rolling_fingerprints(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing, Schleimer/Wilkerson/
    Aiken): polynomial Rabin-Karp hash of every character ``k``-gram of the
    lowercased text, then one selected hash per window of ``w`` consecutive
    grams — the guarantee that any shared substring of length >= k+w-1
    yields a shared fingerprint. Output: one row per distinct selected
    (position, hash) per document.

    Selection rule (deterministic, oracle-reproducible): each window keeps
    its minimal ``hash * 2^31 + position`` packing — min hash, leftmost
    position on ties (the original paper keeps the RIGHTMOST; leftmost is
    the same guarantee and is a plain ``min`` in any engine). Exact
    integer arithmetic end-to-end: codepoints -> fold ``(acc*257 + c) %%
    1e9+7`` -> packed long; the DuckDB twin computes the same polynomial
    through HUGEINT and the same packing, so the driver can value-hash it.

    Implementation: ``mapInArrow`` + NumPy (optimization guide §4.2 — hand
    whole batches to vectorized native code). The previous all-HOF chain
    (split-to-chars -> per-gram aggregate fold -> per-window array_min)
    evaluated O(n*k + n*w) interpreted lambda steps per document inside
    the JVM; the k-step Horner fold here is ``k`` vectorized int64 passes
    over the codepoint array (codepoints via utf-32-le — identical to
    Spark ``ascii`` per split("") char) and window minima are one
    strided-view ``min``. Arithmetic is bit-identical: every intermediate
    < 2^61, no wrap anywhere, same packing, same distinct-set semantics
    (np.unique only changes ROW ORDER, which no consumer and no oracle
    depends on). Scale shape is unchanged: a narrow per-partition map, no
    shuffle, no driver state; only (doc_id, text) crosses the Arrow
    boundary — measured 2.97s -> 0.56s for the q73 noop leg at sf0.1."""
    import numpy as np
    import pyarrow as pa

    id_field = docs.schema["doc_id"]
    out_schema = T.StructType([
        id_field,
        T.StructField("fp_pos", T.IntegerType()),
        T.StructField("fp_hash", T.LongType()),
    ])
    pos_mask = (1 << FP_POS_BITS) - 1

    def run(batches):
        for b in batches:
            texts = b.column("text").to_pylist()
            take_idx: list[int] = []
            pos_parts: list[np.ndarray] = []
            hash_parts: list[np.ndarray] = []
            for i, txt in enumerate(texts):
                if not txt or len(txt) < k:
                    continue
                c = np.frombuffer(txt.lower().encode("utf-32-le"),
                                  dtype=np.uint32).astype(np.int64)
                m = c.size - k + 1
                h = np.zeros(m, dtype=np.int64)
                for j in range(k):
                    h = (h * FP_BASE + c[j:j + m]) % FP_MOD
                packed = (h << FP_POS_BITS) + np.arange(m, dtype=np.int64)
                if m <= w:
                    sel = packed.min(keepdims=True)
                else:
                    sel = np.unique(
                        np.lib.stride_tricks.sliding_window_view(packed, w)
                        .min(axis=1))
                take_idx.extend([i] * sel.size)
                pos_parts.append(sel & pos_mask)
                hash_parts.append(sel >> FP_POS_BITS)
            ids = b.column("doc_id").take(pa.array(take_idx, pa.int32()))
            pos = (np.concatenate(pos_parts).astype(np.int32)
                   if pos_parts else np.array([], dtype=np.int32))
            hsh = (np.concatenate(hash_parts)
                   if hash_parts else np.array([], dtype=np.int64))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(pos, pa.int32()), pa.array(hsh, pa.int64())],
                ["doc_id", "fp_pos", "fp_hash"])

    return docs.select("doc_id", "text").mapInArrow(run, out_schema)


def fingerprint_doc_sets(docs: DataFrame, k: int = 8,
                         w: int = 4) -> DataFrame:
    """Per-document DISTINCT winnowing fingerprint sets with their size:
    one row per distinct (doc_id, fp_hash) carrying ``n_fp`` = the doc's
    distinct-fingerprint count. Semantically identical to
    ``rolling_fingerprints(...).select(doc_id, fp_hash).distinct()``
    joined with its per-doc counts — but both the distinct and the count
    happen INSIDE the selection kernel (np.unique of the selected hashes),
    so the containment pipeline (q74) skips one corpus-wide distinct
    Exchange, the sizes aggregation, and the two final size joins."""
    import numpy as np
    import pyarrow as pa

    id_field = docs.schema["doc_id"]
    out_schema = T.StructType([
        id_field,
        T.StructField("fp_hash", T.LongType()),
        T.StructField("n_fp", T.IntegerType()),
    ])

    def run(batches):
        for b in batches:
            texts = b.column("text").to_pylist()
            take_idx: list[int] = []
            hash_parts: list[np.ndarray] = []
            n_parts: list[np.ndarray] = []
            for i, txt in enumerate(texts):
                if not txt or len(txt) < k:
                    continue
                c = np.frombuffer(txt.lower().encode("utf-32-le"),
                                  dtype=np.uint32).astype(np.int64)
                m = c.size - k + 1
                h = np.zeros(m, dtype=np.int64)
                for j in range(k):
                    h = (h * FP_BASE + c[j:j + m]) % FP_MOD
                packed = (h << FP_POS_BITS) + np.arange(m, dtype=np.int64)
                if m <= w:
                    sel = packed.min(keepdims=True)
                else:
                    sel = np.unique(
                        np.lib.stride_tricks.sliding_window_view(packed, w)
                        .min(axis=1))
                hashes = np.unique(sel >> FP_POS_BITS)
                take_idx.extend([i] * hashes.size)
                hash_parts.append(hashes)
                n_parts.append(np.full(hashes.size, hashes.size,
                                       dtype=np.int32))
            ids = b.column("doc_id").take(pa.array(take_idx, pa.int32()))
            hsh = (np.concatenate(hash_parts)
                   if hash_parts else np.array([], dtype=np.int64))
            nfp = (np.concatenate(n_parts)
                   if n_parts else np.array([], dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(hsh, pa.int64()), pa.array(nfp, pa.int32())],
                ["doc_id", "fp_hash", "n_fp"])

    return docs.select("doc_id", "text").mapInArrow(run, out_schema)


def repeated_spans(docs: DataFrame, k: int = 20,
                   min_count: int = 2) -> DataFrame:
    """ExactSubstr-style repeated-substring statistics (the dedup axis of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better": remove every substring that appears verbatim more than once
    in the corpus). The reference method builds a corpus suffix array;
    this re-expression hashes every character ``k``-gram with the same
    Rabin-Karp polynomial as :func:`rolling_fingerprints` (no winnowing —
    every position keeps its hash), marks a window DUPLICATED when its
    hash occurs >= ``min_count`` times corpus-wide (counting multiplicity,
    so within-document repeats count, as in the suffix-array original),
    and merges each document's duplicated windows into maximal spans.

    Output, one row per document that contains at least one duplicated
    window: ``n_dup_windows`` (duplicated k-gram positions), ``n_spans``
    (maximal merged spans — two windows merge when their starts are
    <= k apart, i.e. their [p, p+k) intervals overlap or touch), and
    ``dup_chars`` (characters covered by the merged spans — the volume an
    ExactSubstr pass would cut). All integer arithmetic; the DuckDB twin
    recomputes the polynomial with mod-reduced powers, so the driver
    value-hashes the whole chain.

    Scale shape: the explode is O(total corpus chars) rows of
    (hash, doc_id, pos) — the same asymptotics as the reference's suffix
    array, but embarrassingly parallel and shuffle-friendly (the
    multiplicity count is a map-side-combinable groupBy on the hash; the
    duplicated-hash set joins back by hash equi-join, AQE handles hot
    hashes). The per-document merge is one groupBy over positions already
    bounded by document length. No driver-side state, no all-pairs path.
    False-positive note: a hash collision (p ~ chars^2 / 1e9+7 per pair)
    can only ADD a spurious duplicated window, mirroring the
    hash-bucketed variants the reference paper itself ships for scale."""
    codes = docs.filter(F.length(F.col("text")) >= k).select(
        "doc_id",
        F.transform(F.split(F.lower(F.col("text")), ""),
                    lambda c: F.ascii(c)).alias("_codes"))
    gram_hash = _char_gram_hashes("_codes", k)
    # the O(k*n) per-char hash pass feeds TWO branches (multiplicity count
    # + position join-back); localCheckpoint runs it once (q74/q40
    # precedent — measured 11.4 -> 6.7-8.8 s at sf0.1, interleaved ABAB)
    ph = codes.select(
        "doc_id", F.posexplode(gram_hash).alias("p", "h")).localCheckpoint()
    dup_h = (ph.groupBy("h").agg(F.count(F.lit(1)).alias("_c"))
             .filter(F.col("_c") >= min_count).select("h"))
    # inner join == semi join here (dup_h is distinct by construction)
    per = (ph.join(dup_h, "h")
           .groupBy("doc_id")
           .agg(F.sort_array(F.collect_list("p")).alias("_ps")))
    n = F.size("_ps")
    gaps = F.zip_with(F.slice(F.col("_ps"), 1, n - 1),
                      F.slice(F.col("_ps"), 2, n - 1),
                      lambda a, b: b - a)
    dup_chars = F.aggregate(
        gaps, F.lit(0), lambda acc, g: acc + F.least(g, F.lit(k))) + k
    n_spans = F.size(F.filter(gaps, lambda g: g > k)) + 1
    return per.select(
        "doc_id",
        n.cast("int").alias("n_dup_windows"),
        n_spans.cast("int").alias("n_spans"),
        dup_chars.cast("int").alias("dup_chars"))


def bigram_lm_scores(docs: DataFrame, train: Column | None = None,
                     scale: int = 1_000_000) -> DataFrame:
    """CCNet-style language-model quality scoring in exact integer
    arithmetic: train an add-one-smoothed bigram LM on a trusted subset of
    the corpus (CCNet trains on Wikipedia; here ``train`` selects the
    rows, default ``source = 'src0'``), then score EVERY document by its
    mean per-bigram likelihood — the signal CCNet thresholds into
    head/middle/tail quality buckets.

    Fixed-point likelihoods (floats would make an iterative-free but
    hash-hostile score): per bigram
    ``lik = ((c(w1,w2) + 1) * scale) DIV (c(w1·) + V)`` with ``V`` =
    distinct training tokens, and per document
    ``lm_score = sum(lik) DIV n_bigrams`` — integer end-to-end, so the
    DuckDB twin value-hashes every score bit-for-bit. Higher = more like
    the trusted subset. Documents with < 2 tokens emit no row; the caller
    must pick a non-empty training subset (an empty one makes every
    denominator zero).

    Scale shape: bigram extraction is per-row higher-order functions; the
    LM tables are two map-side-combinable groupBys over the training
    subset only; scoring is two equi-joins of the corpus bigram stream
    against vocabulary-sized count tables (the classic big-to-small join —
    AQE broadcasts them when they fit, as a Wikipedia-trained LM does) and
    one one-row broadcast for ``V``. No driver state, no iteration."""
    if train is None:
        train = F.col("source") == "src0"
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = (docs.select("doc_id", train.alias("_train"), toks.alias("_t"))
            .filter(F.size("_t") >= 2))
    n = F.size("_t")
    big = (base.select(
        "doc_id", "_train",
        F.explode(F.zip_with(
            F.slice(F.col("_t"), 1, n - 1), F.slice(F.col("_t"), 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))).alias("_b"))
        .select("doc_id", "_train",
                F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2")))
    tbig = big.filter(F.col("_train"))
    cb = tbig.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = tbig.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    vrow = (base.filter(F.col("_train"))
            .select(F.explode("_t").alias("_w"))
            .agg(F.countDistinct("_w").alias("v")))
    lik = (big.join(cb, ["w1", "w2"], "left")
           .join(cu, "w1", "left")
           .join(F.broadcast(vrow))
           .select("doc_id", F.expr(
               f"((coalesce(cb, 0) + 1) * {scale}L)"
               " div (coalesce(cu, 0) + v)").alias("_l")))
    return (lik.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_n"), F.sum("_l").alias("_s"))
            .select("doc_id",
                    F.col("_n").cast("int").alias("n_bigrams"),
                    F.expr("_s div _n").alias("lm_score")))


def dsir_importance(docs: DataFrame, train: Column | None = None,
                    n_buckets: int = 4096,
                    scale: int = 1_000_000) -> DataFrame:
    """DSIR-style hashed-n-gram importance weighting (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"): every
    document's bigrams hash into ``n_buckets`` feature buckets (feature
    hashing is DSIR's signature move — the model is over buckets, not an
    unbounded vocabulary), and each document scores by how much more
    often its buckets appear in the TARGET distribution (``train`` rows,
    default ``source = 'src0'``) than in the raw corpus.

    Deviation from the paper, for engine-exact oracles: the paper sums
    log((p_target+eps)/(p_raw+eps)) per feature; ``ln`` is not
    correctly-rounded-guaranteed across engines, so this variant sums the
    fixed-point RATIO ``((c_target(f)+1) * scale) DIV (c_raw(f)+1)`` and
    divides by the feature count — monotone in the same per-feature
    evidence, integer end-to-end, value-hashable. The global
    N_target/N_raw normalizer is a document-independent constant and is
    omitted (rank-preserving). Output: (doc_id, n_feats, dsir_score);
    higher = more target-like.

    Scale shape: one corpus scan feeds the feature stream; target and raw
    bucket counts are two map-side-combinable groupBys with at most
    ``n_buckets`` output rows each — broadcastable at ANY corpus size
    (the point of hashing); scoring is a broadcast join + one groupBy."""
    if train is None:
        train = F.col("source") == "src0"
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = (docs.select("doc_id", train.alias("_train"), toks.alias("_t"))
            .filter(F.size("_t") >= 2))
    n = F.size("_t")
    feat = (base.select(
        "doc_id", "_train",
        F.explode(F.zip_with(
            F.slice(F.col("_t"), 1, n - 1), F.slice(F.col("_t"), 2, n - 1),
            lambda a, b: F.concat(a, F.lit("\u001f"), b))).alias("_bg"))
        .select("doc_id", "_train",
                (F.conv(F.substring(F.md5("_bg"), 1, 8), 16, 10)
                 .cast("long") % n_buckets).alias("f")))
    ct = (feat.filter(F.col("_train")).groupBy("f")
          .agg(F.count(F.lit(1)).alias("ct")))
    cr = feat.groupBy("f").agg(F.count(F.lit(1)).alias("cr"))
    lik = (feat.join(F.broadcast(ct), "f", "left")
           .join(F.broadcast(cr), "f")
           .select("doc_id", F.expr(
               f"((coalesce(ct, 0) + 1) * {scale}L) div (cr + 1)")
               .alias("_l")))
    return (lik.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_n"), F.sum("_l").alias("_s"))
            .select("doc_id",
                    F.col("_n").cast("int").alias("n_feats"),
                    F.expr("_s div _n").alias("dsir_score")))


# The public GPT-2 pre-tokenizer split pattern minus its `\s+(?!\S)`
# lookahead branch: RE2 (the DuckDB oracle engine) has no lookahead, and
# dropping it only changes how runs of trailing whitespace group — no
# letter/number/punctuation token count moves. Alternation is
# leftmost-first in BOTH Java regex and RE2 (non-POSIX mode), so the two
# engines tokenize identically.
BPE_SPLIT_RE = (r"'s|'t|'re|'ve|'m|'ll|'d"
                r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+")


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """BPE-ish token counting — the token-budget estimate a training
    pipeline uses when the real BPE vocab isn't on the hot path: the GPT-2
    pre-tokenizer split (contractions / space-prefixed letter runs / digit
    runs / punctuation runs / whitespace), counted with and without the
    pure-whitespace pieces. Pure built-ins (regexp_extract_all + a
    higher-order filter over the MATERIALIZED piece array), codegen
    end-to-end; complements the whitespace `token_count` (q20)."""
    pieces = docs.select(
        "doc_id", F.regexp_extract_all("text", F.lit(BPE_SPLIT_RE), 0)
        .alias("_pieces"))
    non_ws = F.filter(F.col("_pieces"), lambda t: ~t.rlike(r"^\s+$"))
    return pieces.select(
        "doc_id",
        F.size(non_ws).alias("n_bpe_tokens"),
        F.size("_pieces").alias("n_bpe_pieces"))


def sentence_dedup(docs: DataFrame) -> DataFrame:
    """CCNet-style cross-document sentence deduplication: split each doc
    on sentence boundaries (``\\.\\s+`` — the separator is normalized to
    '. ' on reassembly, documented adaptation), normalize
    (lower+trim), and keep each distinct sentence ONLY at its first
    global occurrence — min(doc_id, pos) — dropping every other instance
    (boilerplate killer: nav bars, footers, legal lines vanish from all
    but one doc). Output per doc: ``cleaned_text`` (kept sentences joined
    '. '), ``n_sentences``, ``n_removed``.

    Determinism: the keeper is a min over (doc_id, pos) — order-free;
    reassembly sorts kept sentences by pos (sort_array over structs), so
    no collect_list arrival order leaks into results. Scale shape: one
    explode + one groupBy(norm) with map-side combine (shuffle carries
    the normalized sentence once per distinct instance) + one
    groupBy(doc_id) reassembly; no window over the whole corpus."""
    sents = (docs
             .select("doc_id", F.posexplode(
                 F.split("text", r"\.\s+")).alias("pos", "sent"))
             .filter(F.length(F.trim("sent")) > 0)
             .withColumn("norm", F.lower(F.trim("sent"))))
    keeper = (sents.groupBy("norm")
              .agg(F.min(F.struct("doc_id", "pos")).alias("_k")))
    kept = (sents.join(keeper, "norm")
            .filter((F.col("doc_id") == F.col("_k.doc_id"))
                    & (F.col("pos") == F.col("_k.pos"))))
    counts = sents.groupBy("doc_id").agg(F.count("*").alias("n_sentences"))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_join(
                   F.transform(
                       F.sort_array(F.collect_list(
                           F.struct("pos", "sent"))),
                       lambda s: s.sent),
                   ". ").alias("cleaned_text"),
                   F.count("*").alias("_n_kept")))
    return (counts.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
                    "n_sentences",
                    (F.col("n_sentences")
                     - F.coalesce("_n_kept", F.lit(0))).alias("n_removed")))


HASH_SPLIT_SPACE = 2**60  # conv(substr(md5, 1, 15), 16, 10)


def hash_split(docs: DataFrame, weights: dict[str, float],
               key: str = "doc_id", salt: str = "split-v1") -> DataFrame:
    """Deterministic train/holdout assignment — the split primitive every
    training pipeline needs: each row lands in exactly one named split,
    chosen by where its md5-derived 60-bit hash falls among cumulative
    weight boundaries. Properties a random() split cannot give: stable
    under re-runs, engines, partitionings and corpus growth (a doc keeps
    its split when new docs arrive — no leakage of eval docs into train
    on re-shard), and exactly reproducible by the SQL oracle. ``salt``
    versions the assignment (new salt = fresh independent split).

    Splits are assigned in the ITERATION ORDER of ``weights`` (Python
    dicts preserve insertion order); boundaries are exact integers
    (floor(cumfrac * 2^60)), so the mapping is total and unambiguous.
    Pure projection — zero shuffles at any scale."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(salt), F.col(key).cast("string"))),
        1, 15), 16, 10).cast("long")
    names = list(weights)
    expr = None
    for name, bound in zip(names[:-1], hash_split_bounds(weights)):
        cond = h < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (F.lit(names[0]) if expr is None
            else expr.otherwise(names[-1]))
    return docs.withColumn("split", expr)


def hash_split_bounds(weights: dict[str, float]) -> list[int]:
    """The exact integer boundaries ``hash_split`` compares against (one
    per split except the last) — exported so oracle twins render the SAME
    integers instead of re-deriving them through their own float path."""
    total = sum(weights.values())
    bounds, acc = [], 0.0
    for name in list(weights)[:-1]:
        acc += weights[name] / total
        bounds.append(int(acc * HASH_SPLIT_SPACE))
    return bounds


def _word_grams(n: int, toks: Column) -> Column:
    """Word n-grams of a token array as space-joined strings; empty array
    below n tokens (sequence() would otherwise count down)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]))
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 13) -> DataFrame:
    """Test-set decontamination (the GPT-3 appendix-C rule, kept by PaLM /
    Llama pipelines): flag any training document sharing at least one word
    ``n``-gram (n=13 default) with a benchmark/eval document. Output: one
    row per input doc with the distinct-shared-gram count and the
    ``contaminated`` flag — the keep-list is ``NOT contaminated``.

    Scale shape: the benchmark side is tiny by construction (eval suites,
    not corpora) — its distinct gram set is explicitly ``broadcast()``, so
    the corpus-side gram stream joins map-side and the 100-TB corpus is
    never shuffled; the only exchange is the per-doc hit count
    re-aggregation, keyed by doc_id with map-side combine."""
    # bind the token array to a projected column BEFORE the gram lambda:
    # passing the split expression itself into _word_grams re-embeds the
    # whole-document split once per element_at reference (13x per gram —
    # the dedup.shingle_sets lambda-CSE trap; measured 10x slower unbound)
    dg = (docs.select("doc_id", tokens_col().alias("_t"))
          .select("doc_id",
                  F.explode(_word_grams(n, F.col("_t"))).alias("g"))
          .distinct())
    bg = (benchmark.select(tokens_col().alias("_t"))
          .select(F.explode(_word_grams(n, F.col("_t"))).alias("g"))
          .distinct())
    hits = (dg.join(F.broadcast(bg), "g")
            .groupBy("doc_id").agg(F.count("*").alias("n_hits")))
    return (docs.select("doc_id")
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"))
            .withColumn("contaminated", F.col("n_hits") > 0))


# PII patterns, deliberately restricted to the Java-regex ∩ RE2 subset
# (no lookarounds; \b and \d are ASCII in both) so the DuckDB oracle runs
# them verbatim. Redaction order matters: IBAN first (its digit tail would
# otherwise be visible to the phone pattern after partial rewrites), then
# email / IPv4 / phone — none of the later patterns can match inside an
# earlier placeholder.
# Email local-part/domain quantifiers are BOUNDED (RFC 5321 limits: 64 /
# 255). Unbounded `+` on classes containing '.' is O(n^2) on long dot
# runs (TOC leader dots, ASCII art — common in crawled docs): a single
# 2MB doc with a 600k-dot run stalled an executor for minutes. Bounds
# cap per-start-position work, making the scan O(n); behavior differs
# only on local parts > 64 chars (invalid emails), where the match
# keeps the last 64 chars — identical under Java regex and RE2.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+49[ 0-9]{7,13}[0-9]"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_IBAN_RE = r"\bDE[0-9]{20}\b"


def pii_columns() -> dict[str, Column]:
    """The PII expressions as reusable Columns over a ``text`` column —
    shared by ``pii_scan`` and the streaming curation gate so the two
    surfaces cannot drift."""
    def n(pat: str) -> Column:
        return F.size(F.regexp_extract_all("text", F.lit(pat), 0))

    red = F.regexp_replace("text", PII_IBAN_RE, "<IBAN>")
    red = F.regexp_replace(red, PII_EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PII_PHONE_RE, "<PHONE>")
    counts = {"n_emails": n(PII_EMAIL_RE), "n_phones": n(PII_PHONE_RE),
              "n_ipv4": n(PII_IPV4_RE), "n_ibans": n(PII_IBAN_RE)}
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return {**counts, "redacted": red, "has_pii": total > 0}


def pii_scan(docs: DataFrame) -> DataFrame:
    """PII detection + redaction — the compliance pass a training-data
    pipeline runs before packing: per-document counts of emails, German
    phone numbers (+49), IPv4 addresses and German IBANs, plus the
    redacted text with each occurrence replaced by a typed placeholder.

    Counts are measured on the RAW text per class (independent of the
    redaction chain); ``redacted`` applies the four rewrites in the fixed
    order above. Pure built-ins (regexp_extract_all / regexp_replace),
    codegen end-to-end, zero shuffles — a projection at any scale."""
    c = pii_columns()
    return docs.select(
        "doc_id",
        *[c[k].alias(k) for k in ("n_emails", "n_phones", "n_ipv4",
                                  "n_ibans", "redacted", "has_pii")])


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1):
    the within-document repetition filters a web-corpus curation pass runs
    next to the surface stats of ``quality_scores``.

    Per document:
      * ``dup_line_frac``      — (lines - distinct lines) / lines over
        non-empty newline-split lines;
      * ``dup_line_char_frac`` — characters inside duplicated lines /
        all line characters;
      * ``top_bigram`` / ``top_bigram_frac`` — the most frequent word
        2-gram (count-then-lexicographic tie-break, deterministic in any
        engine) and the fraction of document characters its occurrences
        cover;
      * ``dup_5gram_frac``     — fraction of word 5-gram instances whose
        gram occurs more than once;
      * ``repetition_ok``      — the composite gate at Gopher-ish
        thresholds (0.30 / 0.18 / 0.15).

    Documented adaptation: ``dup_5gram_frac`` counts gram INSTANCES, not
    covered characters (Gopher's char-weighted variant needs overlap
    attribution that costs a per-position pass; the instance fraction is
    the standard cheap proxy and is what the oracle pins).

    Scale shape: grams/lines explode into (doc_id, gram) rows and
    aggregate with map-side partial combine — never an O(n^2) per-doc
    array walk, so multi-MB documents cost O(grams), and the wide doc_id
    re-join is three broadcast-or-shuffle equi-joins on doc_id. Mode
    finding is max(struct(count, gram)) — one aggregation, no window."""
    toks = docs.select("doc_id", F.length("text").alias("_nc"),
                       tokens_col().alias("_t"))

    def grams(n: int) -> Column:
        return _word_grams(n, F.col("_t"))

    bg = (toks.select("doc_id", F.explode(grams(2)).alias("g"))
          .groupBy("doc_id", "g").agg(F.count("*").alias("c")))
    top = (bg.groupBy("doc_id")
           .agg(F.max(F.struct("c", "g")).alias("_m"))
           .select("doc_id", F.col("_m.g").alias("top_bigram"),
                   F.col("_m.c").alias("_tc")))
    g5 = (toks.select("doc_id", F.explode(grams(5)).alias("g"))
          .groupBy("doc_id", "g").agg(F.count("*").alias("c"))
          .groupBy("doc_id")
          .agg(F.sum("c").alias("_n5"),
               F.sum(F.when(F.col("c") > 1, F.col("c"))).alias("_d5")))
    lines = (docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", "\n"),
                           lambda x: F.length(x) > 0)).alias("l"))
        .groupBy("doc_id", "l").agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("_nl"),
             F.count("*").alias("_ndl"),
             F.sum(F.col("c") * F.length("l")).alias("_lc"),
             F.sum(F.when(F.col("c") > 1, F.col("c") * F.length("l")))
             .alias("_dlc")))
    out = (toks.select("doc_id", "_nc")
           .join(lines, "doc_id", "left")
           .join(top, "doc_id", "left")
           .join(g5, "doc_id", "left")
           .select(
               "doc_id",
               F.coalesce("_nl", F.lit(0)).alias("n_lines"),
               F.round(F.coalesce((F.col("_nl") - F.col("_ndl"))
                                  / F.col("_nl"), F.lit(0.0)), 6)
               .alias("dup_line_frac"),
               F.round(F.coalesce(F.col("_dlc") / F.col("_lc"), F.lit(0.0)),
                       6).alias("dup_line_char_frac"),
               "top_bigram",
               F.round(F.coalesce(F.col("_tc") * F.length("top_bigram")
                                  / F.greatest("_nc", F.lit(1)), F.lit(0.0)),
                       6).alias("top_bigram_frac"),
               F.round(F.coalesce(F.col("_d5") / F.col("_n5"), F.lit(0.0)),
                       6).alias("dup_5gram_frac")))
    return out.withColumn(
        "repetition_ok",
        (F.col("dup_line_frac") <= 0.30)
        & (F.col("top_bigram_frac") <= 0.18)
        & (F.col("dup_5gram_frac") <= 0.15))


def _count_hits(words: tuple[str, ...]) -> Column:
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    hits = None
    for w in words:
        h = (F.length(padded)
             - F.length(F.replace(padded, F.lit(f" {w} "), F.lit("")))
             ) / (len(w) + 2)
        hits = h if hits is None else hits + h
    return hits.cast("long")


def quality_gate_exprs() -> dict[str, Column]:
    """THE quality-gate expressions — single-sourced so the batch scorer
    (:func:`quality_scores`) and the streaming ingest gate
    (streaming.pipeline.stream_curation_gate) compute bit-identical
    flags: both gate on the 6-dp-ROUNDED punct_ratio (a raw ratio in
    [0.2999995, 0.3) must pass in both planes; ADVICE r5)."""
    n_tokens = F.size(tokens_col())
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    punct_ratio = F.round(
        n_punct / F.greatest(F.length("text"), F.lit(1)), 6)
    return {
        "n_tokens": n_tokens,
        "punct_ratio": punct_ratio,
        "quality_ok": (n_tokens >= 5) & (punct_ratio < 0.3),
    }


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a flag."""
    g = quality_gate_exprs()
    n_tokens = g["n_tokens"]
    stop_hits = _count_hits(DE_STOPWORDS + EN_STOPWORDS)
    out = docs.select(
        "doc_id",
        F.length("text").alias("n_chars_measured"),
        n_tokens.alias("n_tokens"),
        g["punct_ratio"].alias("punct_ratio"),
        F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(F.length("text") / F.greatest(n_tokens, F.lit(1)), 4).alias("avg_token_len"),
    )
    return out.withColumn(
        "quality_ok",
        (F.col("n_tokens") >= 5) & (F.col("punct_ratio") < 0.3))


def language_id(docs: DataFrame) -> DataFrame:
    """N-gram/stopword-hit language heuristic: de vs en by function-word
    hits; 'und' (unknown/undetermined) when neither side scores. The true
    ``lang`` label is passed through when the input carries one (the driver
    documents table does); unlabeled corpora just get the guess."""
    de = _count_hits(DE_STOPWORDS)
    en = _count_hits(EN_STOPWORDS)
    label = ["lang"] if "lang" in docs.columns else []
    return docs.select(
        "doc_id", *label,
        de.alias("de_hits"), en.alias("en_hits"),
        F.when(de > en, "de").when(en > de, "en").otherwise("und").alias("lang_guess"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (the exact-dedup key) plus a 64-bit integer form for bucketing — both
    reproducible bit-for-bit in any engine with md5."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = F.md5(norm)
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fingerprint64"),
    )


def curate_training_mix(docs: DataFrame, *, min_tokens: int = 5,
                        max_punct_ratio: float = 0.3,
                        keep_langs: tuple[str, ...] = ("de", "en"),
                        n_shards: int = 8,
                        repetition_gate: bool = False,
                        semantic_dedup: DataFrame | None = None,
                        semdedup_k: int | None = None,
                        semdedup_threshold: float = 0.4,
                        quality_canonical: bool = False) -> DataFrame:
    """The nightly pass a 100-TB training-data pipeline actually runs,
    composed in ONE declarative plan: exact-dedup keep-list (md5
    fingerprint window) -> quality gate (token floor + punctuation
    ceiling) -> language filter -> deterministic shard assignment (md5-
    derived, engine-portable — NOT xxhash64, which the oracle could not
    reproduce). Output is the per-doc keep-list a packing job consumes:
    (doc_id, lang_guess, n_tokens, fingerprint, shard).

    Scale shape: a single shuffle (the fingerprint window, 16-byte key);
    quality/langid/tokens/shard are projections fused into the codegen
    stages on either side of it (the canonical flag needs the window, so
    the gate applies just after — everything downstream of this operator
    sees only the kept rows). Plan-guarded to exactly one Exchange.

    ``repetition_gate=True`` prepends the Gopher repetition filter
    (``repetition_scores.repetition_ok``) BEFORE dedup — FineWeb-style:
    repetition is doc-local, so gating first shrinks the dedup input, and
    gate order is semantically visible only when duplicates differ in the
    whitespace/case the fingerprint normalizes away (the pinned choice:
    a gated-out doc can never be the surviving canonical). Adds the gram
    aggregation shuffles, so the one-Exchange guard applies to the
    default shape only.

    ``semantic_dedup`` (a doc_id-aligned ``(vec_id, embedding)`` frame)
    prepends the SemDeDup keep-list (clustering.semdedup, q105) the same
    way — semantic near-dups are removed before the exact pass ever
    fingerprints them. The prepass adds the k-means + pair-scan stages
    plus ONE id-equi-join against the corpus (at 100 TB the keep-list is
    corpus-sized, so this join shuffles on doc_id — the honest cost of
    semantic dedup; everything downstream is unchanged).

    ``quality_canonical=True`` swaps the min-doc_id canonical rule for
    the q106 keeper order — (quality_ok DESC, n_tokens DESC, doc_id ASC)
    per fingerprint group via row_number over the SAME window partition,
    so the one-Exchange shape is preserved: a duplicate group keeps its
    best member, and a group whose best member fails the gate drops
    entirely (identical to before only because exact-dup members tie on
    n_tokens; the rule matters when gates diverge within a group)."""
    if repetition_gate:
        keep = (repetition_scores(docs)
                .filter(F.col("repetition_ok")).select("doc_id"))
        docs = docs.join(keep, "doc_id", "left_semi")
    if semantic_dedup is not None:
        from .clustering import semdedup as _semdedup
        sem_keep = (_semdedup(semantic_dedup, k=semdedup_k,
                              threshold=semdedup_threshold)
                    .filter(F.col("is_kept"))
                    .select(F.col("vec_id").alias("doc_id")))
        docs = docs.join(sem_keep, "doc_id", "left_semi")
    n_tokens = F.size(tokens_col())
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    de = _count_hits(DE_STOPWORDS)
    en = _count_hits(EN_STOPWORDS)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = F.md5(norm)
    base = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(n_punct / F.greatest(F.length("text"), F.lit(1)), 6)
        .alias("punct_ratio"),
        F.when(de > en, "de").when(en > de, "en").otherwise("und")
        .alias("lang_guess"),
        fp.alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    if quality_canonical:
        q_ok = ((F.col("n_tokens") >= min_tokens)
                & (F.col("punct_ratio") < max_punct_ratio))
        wq = Window.partitionBy("fingerprint").orderBy(
            F.desc(q_ok), F.desc("n_tokens"), F.asc("doc_id"))
        is_canonical = F.row_number().over(wq) == 1
    else:
        is_canonical = F.col("doc_id") == F.min("doc_id").over(w)
    shard = F.pmod(F.conv(F.substring("fingerprint", 1, 15), 16, 10)
                   .cast("long"), F.lit(n_shards)).cast("int")
    return (base
            .withColumn("is_canonical", is_canonical)
            .filter(F.col("is_canonical")
                    & (F.col("n_tokens") >= min_tokens)
                    & (F.col("punct_ratio") < max_punct_ratio)
                    & F.col("lang_guess").isin(*keep_langs))
            .select("doc_id", "lang_guess", "n_tokens", "fingerprint",
                    shard.alias("shard")))


# element classes per lib/lineSegmentAnalyzer.js:33-41; the segmentation
# regex mirrors createLocalDataset's precedence (:115-240): brackets first,
# then numbers, words, whitespace runs, anything else. zumsteinVector (the
# special single-sector mode, USE_ZUMSTEIN_VECTOR) is covered by
# ``lse_zumstein_vector``/``lse_zumstein_histogram`` below.
LSE_TOKEN_RE = (r"\(.*?\)"
                r"|\d+([.,]\d+)?"
                r"|[A-Za-zÄÖÜäöüß\-]+"
                r"|\s+"
                r"|[\s\S]")


def lse_elements(docs: DataFrame, n_sectors: int = 10) -> DataFrame:
    """Segment each document into classified elements — including the
    reference's WHITESPACE class (lib/lineSegmentAnalyzer.js:37), which a
    plain split-tokenizer silently drops — with the element's decile
    sector."""
    # materialize the element array ONCE per doc (the segmentation regex is
    # the expensive part; evaluating it in both posexplode and size doubles
    # the scan cost)
    arr = docs.select(
        "doc_id",
        F.regexp_extract_all("text", F.lit(LSE_TOKEN_RE), 0).alias("t"))
    elems = arr.select(
        "doc_id",
        F.posexplode("t").alias("pos", "token"),
        F.size("t").alias("n_elems"),
    )
    klass = (
        F.when(F.col("token").rlike(r"^\(.*\)$"), "inBrackets")
        .when(F.col("token").rlike(r"^\d+([.,]\d+)?$"), "number")
        .when(F.col("token").rlike(r"^[A-Za-zÄÖÜäöüß\-]+$"), "word")
        .when(F.col("token").rlike(r"^\s+$"), "whitespace")
        .otherwise("specialcharacter")
    )
    sector = F.least(
        F.floor(F.col("pos") * n_sectors / F.greatest("n_elems", F.lit(1))),
        F.lit(n_sectors - 1)).cast("int")
    return elems.select("doc_id", sector.alias("sector"),
                        klass.alias("token_class"), "token", "pos")


def lse_histogram(docs: DataFrame, n_sectors: int = 10) -> DataFrame:
    """Line-segment token-class histogram (reference A3,
    lib/lineSegmentAnalyzer.js:115-758): classify each element (number /
    word / bracketed / WHITESPACE / special), normalize its position into
    ``n_sectors`` deciles, count occurrences per (sector, class)."""
    return (lse_elements(docs, n_sectors)
            .groupBy("sector", "token_class")
            .agg(F.count("*").alias("occurrences")))


# the reference's special-character class for zumsteinVector mode
# (lib/lineSegmentAnalyzer.js:195): every run of characters outside this
# set — including whitespace — is one match; the separator sign ¦ is
# excluded because createLocalDataset injects it as its own marker
ZUMSTEIN_SPECIAL_RE = r"[^a-zA-Z0-9üÜäÄöÖßé_.¦]+"


def lse_zumstein_vector(docs: DataFrame) -> DataFrame:
    """zumsteinVector mode (``USE_ZUMSTEIN_VECTOR``,
    lib/lineSegmentAnalyzer.js:26,122-126,225-250): SEGMENT_NUM=1 and each
    line contributes exactly ONE classified element whose content is the
    concatenation of its TRIMMED special-character runs (whitespace inside
    a run is dropped by the reference's ``.trim()``; the run order is
    preserved). Empty lines are skipped (:137); a line with NO
    special-character match is dropped — the reference would throw a
    TypeError on ``null.length`` there (:228), and dropping is the only
    total behavior (golden-locked for all non-crash inputs in
    tests/test_lse_grouping.py; ``lse_zumstein_throw_audit`` surfaces
    every dropped-where-reference-crashes line, oracle-gated as q66).

    Pure built-ins: regexp_extract_all + transform + array_join, codegen
    end-to-end. The per-run trim is a regexp strip of ``\\s`` so tabs
    behave as in JS ``String.trim`` (Spark's F.trim only strips ASCII
    spaces); exotic JS-trimmed characters (NBSP, BOM) are out of scope."""
    matches = F.regexp_extract_all("text", F.lit(ZUMSTEIN_SPECIAL_RE), 0)
    vec = F.array_join(
        F.transform(matches,
                    lambda m: F.regexp_replace(m, r"^\s+|\s+$", "")), "")
    return (docs.filter(F.col("text") != "")
            .select("doc_id", F.lit(0).alias("sector"),
                    F.lit("zumsteinVector").alias("token_class"),
                    vec.alias("token"), F.size(matches).alias("_n"))
            .filter(F.col("_n") > 0).drop("_n"))


def lse_zumstein_throw_audit(docs: DataFrame) -> DataFrame:
    """Crash-parity channel for zumsteinVector mode: the reference THROWS a
    TypeError on ``null.length`` (lib/lineSegmentAnalyzer.js:228) for any
    non-empty line with ZERO special-character matches (e.g. a line that is
    pure ``[a-zA-Z0-9...]`` word characters); ``lse_zumstein_vector`` drops
    such lines — the only total behavior for a distributed job (same S7
    error-channel contract as extraction: the job never dies, the anomaly
    is surfaced). ``would_throw`` is true exactly where the reference would
    crash, so an all-false audit certifies parity INCLUDING
    crash-equivalence on the corpus; a true row pinpoints the line the
    sequential reference could never get past."""
    matches = F.regexp_extract_all("text", F.lit(ZUMSTEIN_SPECIAL_RE), 0)
    return docs.select(
        "doc_id",
        ((F.col("text") != "") & (F.size(matches) == 0)).alias("would_throw"))


def lse_zumstein_histogram(docs: DataFrame) -> DataFrame:
    """Sector histogram in zumstein mode. ``analyzeDataset`` keys the
    sectors holder by CONTENT for non-number/special/bracket classes
    (:420-436), falling back to "WHITESPACE" when the key is falsy (:438-
    440) — so a line whose special runs are all-whitespace (empty trimmed
    concatenation) lands under WHITESPACE. One sector by construction."""
    elems = lse_zumstein_vector(docs)
    key = F.when(F.length("token") > 0,
                 F.col("token")).otherwise(F.lit("WHITESPACE"))
    return (elems.groupBy("sector", key.alias("zvector"))
            .agg(F.count("*").alias("occurrences")))


def lse_grouped(docs: DataFrame, n_sectors: int = 10,
                coupled: bool = False) -> DataFrame:
    """Streak grouping over the sector histogram — the faithful port of the
    reference's imperative walk (GROUPING_RANGE=1,
    lib/lineSegmentAnalyzer.js:21,567-758; see analytics/lse_grouping.py for
    the quirk inventory and the Node-vm golden lock). Runs as a grouped-map
    over token_class: each group is at most ``n_sectors`` histogram rows, so
    the Python stage is O(classes) regardless of corpus size — the heavy
    lifting (segmentation + histogram) stays JVM-side.

    ``group_size`` carries the reference's groupSize semantics: number of
    merged source sectors for group elements, 0 for untouched originals.

    ``coupled=False`` (default): each token class walks independently (the
    within-class ``nextElement`` leak is reproduced exactly; classes cannot
    couple). ``coupled=True`` reproduces the reference's SINGLE-WALK mode:
    all classes thread through one shared sectorsHolder, so the hoisted
    ``nextElement`` leak (lib/lineSegmentAnalyzer.js:605) can couple
    DIFFERENT classes' walks — exactly as in the reference, where the walk
    order is the holder's JS key-insertion order: a (sector, key) pair
    inserts the first time it appears during the line scan (:440-447), and
    the grouping's inner ``for key in sector`` iterates that order (:580).
    The same order is derived here distributively — min(struct(doc_id,
    pos)) per (sector, class) in the SAME aggregation as the histogram
    count (zero extra shuffles), with the corpus scan order pinned to
    (doc_id asc, element pos asc); the sequential twin pins the identical
    order via row_number() OVER (ORDER BY doc_id, pos). The coupled walk
    is a single tiny group (<= n_sectors x n_classes histogram rows), so
    the Python stage stays O(classes) regardless of corpus size.
    """
    import pandas as pd

    from .lse_grouping import streak_grouping

    cols = ["token_class", "group_sector", "occurrences", "group_size"]
    schema = ("token_class string, group_sector int, "
              "occurrences long, group_size int")

    if coupled:
        elems = lse_elements(docs, n_sectors)
        hist = (elems.groupBy("sector", "token_class")
                .agg(F.count("*").alias("occurrences"),
                     F.min(F.struct("doc_id", "pos")).alias("first_seen"))
                .select("sector", "token_class", "occurrences",
                        F.col("first_seen.doc_id").alias("first_doc"),
                        F.col("first_seen.pos").alias("first_pos")))

        def walk_all(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            by_class: dict[str, dict[int, int]] = {}
            rank: dict[tuple, tuple] = {}
            for r in pdf.itertuples(index=False):
                by_class.setdefault(r.token_class, {})[int(r.sector)] = \
                    int(r.occurrences)
                rank[(r.token_class, int(r.sector))] = \
                    (r.first_doc, int(r.first_pos))
            rows = streak_grouping(by_class, n_sectors,
                                   insertion_rank=rank)
            return pd.DataFrame(rows, columns=cols)

        # one constant-keyed group (a literal in groupBy would be read as
        # a group-by ORDINAL); the whole histogram is tiny by construction
        return (hist.withColumn("_g", F.lit(1))
                .groupBy("_g").applyInPandas(walk_all, schema))

    hist = lse_histogram(docs, n_sectors)

    def walk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cls = key[0]
        rows = streak_grouping(
            {cls: dict(zip(pdf["sector"].astype(int),
                           pdf["occurrences"].astype(int)))}, n_sectors)
        return pd.DataFrame(rows, columns=cols)

    return hist.groupBy("token_class").applyInPandas(walk, schema)


def write_text_index(docs: DataFrame, path: str) -> None:
    """Persist an inverted keyword index: one (token, doc_id) posting per
    distinct whitespace token per document, written
    ``partitionBy(tkp)`` where ``tkp`` is the token's first byte — so a
    probe for a handful of terms dynamically prunes to the partitions
    holding those terms' postings instead of scanning the index (the q93 /
    write_ivf_index build-once/probe-many contract, for keyword search)."""
    postings = (docs.select(
        "doc_id", F.explode(F.array_distinct(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")))
        .alias("token"))
        .filter(F.length("token") > 0)
        .withColumn("tkp", F.substring("token", 1, 1)))
    write_table(postings, path, "tkp")


BM25_SCALE = 1_000_000  # micro-units; k1 = 12/10, b = 3/4 (the standard 1.2/0.75)


def _bm25_tokens(docs: DataFrame) -> DataFrame:
    """``(doc_id, dl, _toks)``: lowercased non-empty whitespace tokens,
    bound to a column first so the split runs once per document."""
    toks = F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda t: F.length(t) > 0)
    return (docs.select("doc_id", toks.alias("_toks"))
            .select("doc_id", F.size("_toks").cast("long").alias("dl"),
                    "_toks"))


def _query_terms(terms: list[str]) -> list[str]:
    return sorted(set(t.strip().lower() for t in terms if t.strip()))


def _term_postings(spark, path: str, want: list[str]) -> DataFrame:
    """The postings of ``want`` in a ``tkp``-partitioned index table; the
    filter on the partition column prunes the scan to their partitions."""
    return read_table(spark, path).filter(
        F.col("tkp").isin(sorted({t[:1] for t in want}))
        & F.col("token").isin(want))


def bm25_rank(docs: DataFrame, terms: list[str], top_k: int = 20) -> DataFrame:
    """BM25 ranked retrieval — the scoring sibling of the AND-probe
    (``keyword_search_index``): per query term, the Robertson/Spärck-Jones
    saturation ``idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` summed over
    terms, top-k docs by score.

    Arithmetic is FIXED-POINT end to end (BIGINT micro-units, truncating
    ``div`` on all-positive operands — floor in both engines), the same
    ln-free trade as DSIR/q104: the classic ``ln((N-df+0.5)/(df+0.5))``
    idf is replaced by the RATIO itself in micro-units
    (``(2(N-df)+1)*S div (2df+1)``, the x2 clearing the halves exactly),
    because ``ln`` is not correctly-rounded across engines and a single
    ULP flips top-k order. The ratio is a strictly monotone transform of
    the log-idf, so per-term RANKINGS are preserved; absolute scores are
    the documented variant, not textbook BM25. Every intermediate is
    value-hashable by the DuckDB twin (q109).

    Overflow bounds (documented, not silently wrong): dl < 9.2e6 tokens
    and tf < 8.3e5 keep the BIGINT intermediates exact; both products
    that scale with corpus size — idf_fp * tfn_fp (idf_fp <= 2N*S) and
    total_dl * S in the avgdl quotient (total_dl is corpus-wide token
    volume; ADVICE r6) — are widened to DECIMAL(38,0) (HUGEINT in the
    twin) so N and total corpus volume are unbounded.

    100-TB shape: one corpus scan -> explode ONLY the query terms (the
    per-(doc,term) frame is |terms|-bounded per doc), df/N/avgdl are a
    |terms|-row and a 1-row broadcast, the final top-k is a window over
    candidates that matched at least one term — the corpus itself never
    shuffles. For build-once/probe-many, point it at tf-carrying postings
    (``write_text_index`` + a doc-length sidecar) instead of docs."""
    want = _query_terms(terms)
    toks = _bm25_tokens(docs)
    # (doc, term) term frequencies for the query terms only
    tf = (toks.select("doc_id", "dl", F.explode("_toks").alias("token"))
          .filter(F.col("token").isin(want))
          .groupBy("doc_id", "dl", "token")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    # corpus stats: 1 row (N, avgdl) + |terms| rows (df) — both broadcast
    stats = toks.agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     F.sum("dl").cast("long").alias("total_dl"))
    return _bm25_score_tail(tf, stats, top_k)


def _bm25_score_tail(tf: DataFrame, stats: DataFrame,
                     top_k: int) -> DataFrame:
    """Shared fixed-point BM25 scoring tail (single-sourced so the
    corpus-scan path (``bm25_rank``) and the persisted-index path
    (``bm25_rank_index``) cannot drift): input ``tf(doc_id, dl, token,
    tf)`` — the query-term candidate frame — and 1-row ``stats(n_docs,
    total_dl)``. df per term is recomputed from ``tf`` itself (a
    |terms|-row aggregate of the already-|terms|-bounded frame)."""
    df_t = (tf.groupBy("token")
            .agg(F.countDistinct("doc_id").cast("long").alias("df")))
    scored = (tf.join(F.broadcast(df_t), "token")
              .join(F.broadcast(stats))
              # DECIMAL(38,0) widening: total_dl is corpus-wide token
              # volume, so total_dl * 1e6 wraps BIGINT past ~9.2e12 total
              # tokens (ADVICE r6) — exactly the 100-TB shape. Identical
              # quotient wherever the narrow product was in range.
              .withColumn("avgdl_fp", F.expr(
                  "CAST(CAST(total_dl AS DECIMAL(38,0)) * 1000000"
                  " div n_docs AS BIGINT)"))
              .withColumn("idf_fp", F.expr(
                  "(2 * (n_docs - df) + 1) * 1000000L div (2 * df + 1)"))
              .withColumn("dlq_fp", F.expr(
                  "dl * 1000000L * 1000000L div avgdl_fp"))
              .withColumn("k_fp", F.expr(
                  "6 * (250000L + 3 * dlq_fp div 4) div 5"))
              .withColumn("tfn_fp", F.expr(
                  "11 * tf * 1000000L * 1000000L"
                  " div (5 * (tf * 1000000L + k_fp))"))
              .withColumn("score_term_fp", F.expr(
                  "CAST(CAST(idf_fp AS DECIMAL(38,0)) * tfn_fp"
                  " div 1000000L AS BIGINT)")))
    per_doc = (scored.groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("int").alias("n_terms"),
                    F.sum("score_term_fp").cast("long").alias("score_fp")))
    # global top-k via orderBy().limit() -> TakeOrderedAndProject (partial
    # per-partition top-k, NO single-partition window over the candidate
    # set); the row_number window then runs over <= top_k rows
    top = per_doc.orderBy(F.desc("score_fp"), F.asc("doc_id")).limit(top_k)
    w = Window.orderBy(F.desc("score_fp"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w).cast("int"))
            .select("doc_id", "n_terms", "score_fp", "rank"))


def keyword_search_index(spark, path: str, terms: list[str]) -> DataFrame:
    """AND-semantics keyword search against a persisted inverted index:
    documents containing EVERY term. The term filter includes the
    partition column, so the scan reads only the matching ``tkp``
    partitions (partition pruning — probes touch O(terms) partitions at
    any index size); the match is one groupBy counting distinct terms
    hit. Returns (doc_id, n_terms_matched) for full matches only."""
    want = _query_terms(terms)
    return (_term_postings(spark, path, want)
            .groupBy("doc_id")
            .agg(F.countDistinct("token").cast("int")
                 .alias("n_terms_matched"))
            .filter(F.col("n_terms_matched") == len(want)))


def write_bm25_index(docs: DataFrame, path: str) -> None:
    """Persist the build-once side of BM25 retrieval (the tf-carrying
    sibling of ``write_text_index``):

    * ``{path}/postings`` — one (token, doc_id, dl, tf) row per distinct
      token per doc, ``partitionBy(tkp)`` (token first byte) so a probe
      for a handful of terms partition-prunes instead of scanning the
      index. ``dl`` (doc token length) is DENORMALIZED into the posting:
      the probe then needs NO join against any corpus-sized side table —
      at 100 TB that join would shuffle the doc-length table on every
      query.
    * ``{path}/stats`` — ONE row (n_docs, total_dl), precomputed at build
      so avgdl/N come from a 1-row read, not an index scan.

    df per query term is NOT persisted: it is a |terms|-row aggregate of
    the already-pruned candidate postings at probe time (exact, and
    avoids a second partitioned table)."""
    toks = _bm25_tokens(docs)
    postings = (toks.select("doc_id", "dl", F.explode("_toks").alias("token"))
                .groupBy("token", "doc_id", "dl")
                .agg(F.count(F.lit(1)).cast("long").alias("tf"))
                .withColumn("tkp", F.substring("token", 1, 1)))
    write_table(postings, path + "/postings", "tkp")
    write_table(toks.agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                         F.sum("dl").cast("long").alias("total_dl")),
                path + "/stats")


def bm25_rank_index(spark, path: str, terms: list[str],
                    top_k: int = 20) -> DataFrame:
    """BM25 top-k against a persisted :func:`write_bm25_index` — the
    steady-state probe of the build-once/probe-many contract. Reads ONLY
    the query terms' ``tkp`` partitions (the filter includes the
    partition column, same pruning contract as ``keyword_search_index``),
    a 1-row stats read, then the exact :func:`_bm25_score_tail` shared
    with the corpus-scan path — so both paths return bit-identical
    (doc_id, n_terms, score_fp, rank) for the same corpus (asserted in
    tests and by the q111 oracle, which recomputes from the raw table)."""
    tf = (_term_postings(spark, path + "/postings", _query_terms(terms))
          .select("doc_id", "dl", "token", "tf"))
    return _bm25_score_tail(tf, read_table(spark, path + "/stats"), top_k)
