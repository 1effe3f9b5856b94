"""Behavioral tests for the training-data ops: dedup (exact / MinHash-LSH /
SimHash / n-gram Jaccard) on a corpus with PLANTED duplicates, and ANN
recall vs the brute-force baseline. (Value-level parity with DuckDB is
covered by tests/test_oracle_parity.py.)"""

import os

import pytest
from pyspark.sql import functions as F

from akf_cdparser_spark.analytics import dedup, similarity

BASE = ("the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep dark forest where nobody ever goes at night")


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        ("d00", BASE),
        ("d01", BASE),                                  # exact dup of d00
        ("d02", BASE.replace("quick", "speedy")),       # near dup of d00
        ("d03", BASE.replace("dog and then", "cat that later")),  # near dup
        ("d04", "completely different words about spark and parquet tables "
                "partitions shuffles joins aggregations windows and codegen"),
        ("d05", "yet another unrelated document mentioning bloom filters "
                "cuckoo hashing politeness budgets and crawl frontiers"),
        ("d06", "  the   quick brown fox jumps over the lazy dog and then "
                "runs far away into the deep dark forest where nobody ever "
                "goes at night "),                      # whitespace variant
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_exact_dedup_groups(planted):
    rows = {r.doc_id: r for r in dedup.exact_dedup(planted).collect()}
    # d00/d01/d06 normalize to the same fingerprint
    assert rows["d00"].group_size == 3
    assert rows["d01"].canonical_doc_id == "d00"
    assert rows["d06"].is_canonical is False
    assert rows["d04"].group_size == 1


def test_minhash_lsh_finds_near_dups(planted):
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in dedup.minhash_candidates(planted).collect()}
    assert pairs[("d00", "d01")] == 1.0
    near = [p for p in pairs if set(p) & {"d02", "d03"}]
    assert near, "near duplicates must surface as LSH candidates"
    assert ("d00", "d04") not in pairs


def test_ngram_jaccard_threshold(planted):
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(planted, threshold=0.5).collect()}
    assert pairs[("d00", "d01")] == 1.0
    assert ("d00", "d02") in pairs  # one-token edit keeps most shingles
    assert all(not ({"d04", "d05"} <= set(p)) for p in pairs)


def test_simhash_near_dups(planted):
    sh = {r.doc_id: r.simhash for r in dedup.simhash(planted).collect()}
    assert sh["d00"] == sh["d01"] == sh["d06"]  # identical token multisets
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in dedup.simhash_near_dups(planted, max_hamming=6).collect()}
    assert pairs[("d00", "d01")] == 0
    assert all(not ({"d00", "d04"} <= set(p)) for p in pairs)


def _py_simhash(tokens):
    """Unpacked pure-Python reference for the 64-bit md5 simhash."""
    import hashlib
    hcache = {}
    counts = [0] * 64
    for t in tokens:
        h = hcache.get(t)
        if h is None:
            md = hashlib.md5(t.encode()).hexdigest()
            h = hcache[t] = (int(md[8:16], 16) << 32) | int(md[0:8], 16)
        for b in range(64):
            counts[b] += (h >> b) & 1
    n, acc = len(tokens), 0
    for b in range(64):
        if counts[b] * 2 > n:
            acc += -(1 << 63) if b == 63 else (1 << b)
    return acc


def test_simhash_long_doc_no_lane_overflow(spark):
    """A >65536-token document must not corrupt adjacent 16-bit lanes
    (ADVICE r4: the packed counters silently carried once one aggregation
    group held >= 65536 rows). Both a degenerate single-token doc (where
    the old path provably flipped majority bits: 70000 mod 65536 = 4464,
    2*4464 < 70000) and a mixed-token doc are pinned to an unpacked
    pure-Python reference."""
    repeated = ["tok"] * 70000
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    mixed = [vocab[i % len(vocab)] for i in range(66000)]
    docs = spark.createDataFrame(
        [("long0", " ".join(repeated)),
         ("long1", " ".join(mixed)),
         ("short", "tok")],
        "doc_id string, text string")
    got = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert got["long0"] == _py_simhash(repeated)
    assert got["long0"] == got["short"]  # all-identical tokens => same hash
    assert got["long1"] == _py_simhash(mixed)


def test_simhash_randomized_vs_python_reference(spark):
    """Randomized docs across size boundaries (1 token up to >65536 — the
    old 16-bit-lane carry point) must match the unpacked reference
    exactly: the 32-bit lane packing is an encoding, never an
    approximation."""
    import random as _random
    rng = _random.Random(42)
    vocab = [f"w{j}" for j in range(50)]
    rows, exp = [], {}
    for d, n in enumerate([1, 2, 7, 100, 1000, 9999, 16384, 16385,
                           40000, 70001]):
        toks = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
        did = f"r{d:02d}"
        rows.append((did, " ".join(toks)))
        exp[did] = _py_simhash(toks)
    got = {r.doc_id: r.simhash
           for r in dedup.simhash(
               spark.createDataFrame(rows, "doc_id string, text string")
           ).collect()}
    assert got == exp


def test_simhash_chunked_votes_bit_equal_single_chunk(spark, monkeypatch):
    """The vote matrix is built over blocks of ``SIMHASH_CHUNK_TOKENS``
    tokens; the per-bit counts add up across blocks, so any block size
    gives the single-block result bit for bit — across block boundaries,
    partial last blocks, empty and whitespace-only text."""
    import random as _random
    rng = _random.Random(7)
    vocab = [f"w{j}" for j in range(40)]
    rows = [("empty", ""), ("blank", " \t\n "), ("one", "w1")]
    for d, n in enumerate([2, 3, 4, 5, 7, 9, 10, 64, 1001]):
        rows.append((f"r{d}", " ".join(vocab[rng.randrange(len(vocab))]
                                       for _ in range(n))))
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    def run(chunk):
        monkeypatch.setattr(dedup, "SIMHASH_CHUNK_TOKENS", chunk)
        return {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}

    single = run(1 << 30)
    assert len(single) == len(rows)
    for chunk in (1, 3, 4, 100):
        assert run(chunk) == single, chunk


def test_ann_lsh_recall_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").head()[0])
    qids = [int(r.vec_id) for r in emb.select("vec_id").orderBy("vec_id").limit(3).collect()]
    exact = {(r.query_id, r.vec_id)
             for r in similarity.cosine_topk_bruteforce(emb, qids, k=5).collect()}
    approx = {(r.query_id, r.vec_id)
              for r in similarity.cosine_topk_lsh(emb, qids, dim, k=5,
                                                  n_planes=4).collect()}
    recall = len(exact & approx) / len(exact)
    # single-signature LSH is the coarse baseline; the banded variant below
    # is the real recall gate
    assert recall >= 0.15


def test_ann_banded_recall_gate(spark):
    """The scale-path gate (q48): banded LSH reaches recall@5 >= 0.8 mean
    on the synthetic embeddings with the default 8x3 band config."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows = similarity.ann_recall_vs_bruteforce(
        emb, [0, 7, 42, 99, 123], k=5).collect()
    recalls = [r.recall for r in rows]
    assert len(recalls) == 5
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_ivf_recall_gate_and_multi_assignment_lever(spark):
    """The IVF scale path (q65): 16 lists / 3 assignments / 4 probes reaches
    mean recall@5 >= 0.8 on the sf0.01 embeddings, and dropping to
    single-assignment measurably loses recall (the lever is real, not a
    no-op on this data)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = [0, 7, 42, 99, 123]
    rows = similarity.ivf_recall_vs_bruteforce(emb, qids, k=5).collect()
    recalls = [r.recall for r in rows]
    assert len(recalls) == 5
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    single = [r.recall for r in similarity.ivf_recall_vs_bruteforce(
        emb, qids, k=5, n_assign=1).collect()]
    assert sum(single) / len(single) < sum(recalls) / len(recalls)


def test_ivf_inverted_lists_shape(spark):
    """Multi-assignment inverted lists: every vector appears in exactly
    n_assign distinct lists, and list ids stay within [0, n_lists)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    inv = similarity.ivf_inverted_lists(emb, n_lists=8, n_assign=2)
    from pyspark.sql import functions as F
    per_vec = (inv.groupBy("vec_id")
               .agg(F.count("*").alias("n"),
                    F.countDistinct("list_id").alias("nd"),
                    F.min("list_id").alias("lo"),
                    F.max("list_id").alias("hi")).collect())
    assert per_vec and all(r.n == 2 and r.nd == 2 and 0 <= r.lo
                           and r.hi < 8 for r in per_vec)


def test_ivf_index_roundtrip_matches_direct(spark, tmp_path):
    """The persisted IVF index (write partitionBy(list_id) + probe) returns
    EXACTLY what the self-contained operator returns, and probing only
    touches the probed list partitions via dynamic partition pruning."""
    from pyspark.sql import functions as F
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(emb, path, n_lists=8, n_assign=2)
    queries = (emb.filter(F.col("vec_id").isin([0, 3]))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_emb")))
    via_index = similarity.cosine_topk_ivf_index(spark, path, queries,
                                                 k=3, n_probe=2)
    direct = similarity.cosine_topk_ivf(emb, [0, 3], k=3, n_lists=8,
                                        n_assign=2, n_probe=2)
    assert sorted(map(tuple, via_index.collect())) == \
        sorted(map(tuple, direct.collect()))
    p = via_index._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "dynamicpruningexpression(list_id" in p, p


def test_embedding_near_dups_are_symmetric_free(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").head()[0])
    pairs = similarity.embedding_near_dups(emb, dim=dim, threshold=0.9,
                                           n_planes=4).collect()
    assert all(r.vec_a < r.vec_b for r in pairs)


def test_dup_clusters_chain_and_cliques(spark):
    """A 3-chain (a-b, b-c) merges into one cluster even though a-c was
    never a pair; disjoint pairs stay separate; canonical = min doc_id."""
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string")
    rows = {r.doc_id: r for r in dedup.dup_clusters(pairs).collect()}
    assert {r.cluster_id for r in rows.values()} == {"a", "x"}
    assert all(rows[d].cluster_id == "a" and rows[d].cluster_size == 3
               for d in ("a", "b", "c"))
    assert rows["x"].cluster_size == 2
    assert rows["a"].is_canonical and rows["x"].is_canonical
    assert not rows["b"].is_canonical


def test_dup_clusters_star_matches_label_on_random_graphs(spark):
    """Property test: the large-star/small-star path (the adversarial-depth
    scale algorithm) and min-label propagation return IDENTICAL clusters on
    random 200-node graphs — sparse, dense, and a 200-node path (worst-case
    diameter, where label propagation needs its full O(diameter) rounds)."""
    import random

    def union_find(n, edges):
        parent = list(range(n))

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {f"n{i:03d}": f"n{min(find(i), i):03d}" for i in range(n)
                if any(i in e for e in edges)}

    cases = []
    for seed, n_edges in ((7, 60), (11, 300)):
        rng = random.Random(seed)
        cases.append([(rng.randrange(200), rng.randrange(200))
                      for _ in range(n_edges)])
    # a 60-node path: diameter 59, where min-label propagation needs its
    # full O(diameter) rounds but star converges in O(log^2 n)
    cases.append([(i, i + 1) for i in range(59)])

    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(
            [(f"n{min(a, b):03d}", f"n{max(a, b):03d}") for a, b in edges],
            "doc_a string, doc_b string")
        label = {r.doc_id: (r.cluster_id, r.cluster_size, r.is_canonical)
                 for r in dedup.dup_clusters(pairs, max_iter=80).collect()}
        star = {r.doc_id: (r.cluster_id, r.cluster_size, r.is_canonical)
                for r in dedup.dup_clusters(pairs,
                                            algorithm="star").collect()}
        assert star == label
        truth = union_find(200, edges)
        assert {d: c for d, (c, _, _) in label.items()} == truth


def test_dup_clusters_raises_when_not_converged(spark):
    """A 60-node path needs ~60 label-propagation rounds: at the default
    ``max_iter=25`` (and the star path capped at one round) both raise
    instead of returning partially propagated clusters."""
    pairs = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(59)],
        "doc_a string, doc_b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_clusters(pairs)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup._dup_clusters_star(pairs, max_iter=1)


def test_lse_zumstein_vector_spark_matches_twin(spark):
    """Spark zumsteinVector column vs the sequential twin that is itself
    Node-vm golden-locked (tests/test_lse_grouping.py) — on punctuation-
    rich lines where vectors are non-trivial."""
    import re

    from akf_cdparser_spark.analytics import text as T

    lines = ["Fabrikstr. 45, 73207 Plochingen Tel:(07153) 6-0",
             "a,b;c:d (x) 12,5%", "  spaces  only  ", "plainword", "",
             "Grundkapital: EUR 12.500.000,-"]
    docs = spark.createDataFrame(
        [(f"d{i}", s) for i, s in enumerate(lines)],
        "doc_id string, text string")
    got = {r.doc_id: r.token
           for r in T.lse_zumstein_vector(docs).collect()}

    def twin(line):
        runs = re.findall(T.ZUMSTEIN_SPECIAL_RE, line)
        if not line or not runs:
            return None
        return "".join(re.sub(r"^\s+|\s+$", "", x) for x in runs)

    expect = {f"d{i}": twin(s) for i, s in enumerate(lines)
              if twin(s) is not None}
    assert got == expect
    assert got["d0"] == ",:()-"  # golden value from the Node harness

    hist = {(r.sector, r.zvector): r.occurrences
            for r in T.lse_zumstein_histogram(docs).collect()}
    assert hist[(0, "WHITESPACE")] == 1  # the all-whitespace-runs line
    assert hist[(0, ",:()-")] == 1


def test_lse_coupled_spark_matches_sequential(spark):
    """lse_grouped(coupled=True) == one sequential coupled walk over the
    same histogram (sorted class order)."""
    from akf_cdparser_spark.analytics import text as T
    from akf_cdparser_spark.analytics.lse_grouping import streak_grouping

    docs = spark.createDataFrame(
        [(f"d{i}", "alpha beta (x) 12,5 gamma ; delta " * (i + 1))
         for i in range(6)],
        "doc_id string, text string")
    hist = {}
    for r in T.lse_histogram(docs).collect():
        hist.setdefault(r.token_class, {})[r.sector] = r.occurrences
    expect = sorted(streak_grouping({k: hist[k] for k in sorted(hist)}))
    got = sorted(tuple(r) for r in T.lse_grouped(docs, coupled=True).collect())
    assert got == expect


def _winnow_twin(text: str, k: int = 8, w: int = 4) -> set:
    """Pure-Python winnowing reference: Rabin-Karp k-gram hashes of the
    lowercased text, min of hash*2^POS_BITS+pos per w-window,
    leftmost-on-tie (same packing as analytics.text.rolling_fingerprints;
    the shift is imported so the twin tracks the engine constant)."""
    from akf_cdparser_spark.analytics.text import FP_POS_BITS
    s = text.lower()
    if len(s) < k:
        return set()
    hashes = []
    for i in range(len(s) - k + 1):
        acc = 0
        for c in s[i:i + k]:
            acc = (acc * 257 + ord(c)) % 1_000_000_007
        hashes.append(acc)
    packed = [(h << FP_POS_BITS) + i for i, h in enumerate(hashes)]
    sel = {min(packed[i:i + w])
           for i in range(max(len(packed) - w, 0) + 1)}
    return {(p & ((1 << FP_POS_BITS) - 1), p >> FP_POS_BITS) for p in sel}


def test_rolling_fingerprints_match_python_twin(spark):
    """rolling_fingerprints == the pure-Python winnowing walk on umlauts,
    ties, repeats, and below/at/above the k-char emission threshold."""
    from akf_cdparser_spark.analytics import text as T
    rows = [
        ("r0", "short"),                     # < k: no rows
        ("r1", "exactlen8"),                 # == k+1 chars: 2 grams, 1 window
        ("r2", "aaaaaaaaaaaaaaaaaaaa"),      # all grams identical (max ties)
        ("r3", "Größere Dokumente mit Umlauten üäö und MixedCase Text."),
        ("r4", "the quick brown fox jumps over the quick brown fox again"),
        ("r5", "ababababababababababababab"),  # period-2 repeats
    ]
    got = {}
    fp = T.rolling_fingerprints(
        spark.createDataFrame(rows, "doc_id string, text string"))
    for r in fp.collect():
        got.setdefault(r.doc_id, set()).add((r.fp_pos, r.fp_hash))
    for doc_id, text in rows:
        assert got.get(doc_id, set()) == _winnow_twin(text), doc_id


def test_winnowing_guarantee_shared_substring(spark):
    """The winnowing guarantee: any shared substring of length >= k+w-1
    (= 11 at the defaults) yields at least one shared fp_hash, however
    different the surrounding text."""
    from akf_cdparser_spark.analytics import text as T
    shared = "xqzvjwkpfyh"  # 11 chars, appears nowhere else
    docs = spark.createDataFrame(
        [("a", "completely unrelated prefix " + shared + " and one tail"),
         ("b", shared + " different continuation entirely dissimilar")],
        "doc_id string, text string")
    by_doc = {}
    for r in T.rolling_fingerprints(docs).collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by_doc["a"] & by_doc["b"]


def test_fingerprint_containment_embedded_doc(spark):
    """A small doc embedded verbatim inside a much larger doc: containment
    ~1.0 (every small-doc window survives somewhere) while resemblance
    (jaccard over the union) is low — the axis q74 adds over q68/q25.
    Scores match the pure-Python winnowing twin exactly."""
    from akf_cdparser_spark.analytics import dedup as D
    small = "the quick brown fox jumps over the lazy dog near the river"
    filler_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    filler_b = " ".join(f"delta{i} epsilon{i}" for i in range(40))
    rows = [("big", filler_a + " " + small + " " + filler_b),
            ("small", small),
            ("other", "entirely unrelated content with no shared substrings")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {(r.doc_a, r.doc_b): (r.n_shared, r.containment)
           for r in D.fingerprint_containment_pairs(docs, threshold=0.5).collect()}
    fps = {d: {h for _, h in _winnow_twin(t)} for d, t in rows}
    shared = len(fps["big"] & fps["small"])
    want = round(shared / min(len(fps["big"]), len(fps["small"])), 6)
    assert want >= 0.8  # the embedding really is detected
    assert got == {("big", "small"): (shared, want)}
    # resemblance over the same fingerprint sets is LOW — containment is
    # the only metric that sees this pair
    union = len(fps["big"] | fps["small"])
    assert shared / union < 0.25


def test_fingerprint_containment_stop_hash_cap_exact_scores(spark):
    """The max_doc_freq cap prunes candidate generation only: with a cap
    that kills every shared hash the pair disappears, but any surviving
    pair's score counts ALL shared fingerprints (cap-independent)."""
    from akf_cdparser_spark.analytics import dedup as D
    rows = [("a", "shared boilerplate sentence appears here verbatim"),
            ("b", "shared boilerplate sentence appears here verbatim too"),
            ("c", "shared boilerplate sentence appears here verbatim also")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    uncapped = {(r.doc_a, r.doc_b): (r.n_shared, r.containment)
                for r in D.fingerprint_containment_pairs(
                    docs, threshold=0.1, max_doc_freq=None).collect()}
    capped3 = {(r.doc_a, r.doc_b): (r.n_shared, r.containment)
               for r in D.fingerprint_containment_pairs(
                   docs, threshold=0.1, max_doc_freq=3).collect()}
    assert uncapped and uncapped == capped3  # cap above df: scores identical
    # cap of 1 removes every hash shared by >=2 docs from candidate
    # generation -> no candidates survive at all here
    assert D.fingerprint_containment_pairs(
        docs, threshold=0.1, max_doc_freq=1).count() == 0


def _repetition_twin(text: str):
    """Pure-Python twin of analytics.text.repetition_scores for one doc."""
    from collections import Counter
    w = __import__("re").split(r"\s+", text.strip())
    nc = len(text)
    bg = Counter(" ".join(w[i:i + 2]) for i in range(len(w) - 1))
    g5 = Counter(" ".join(w[i:i + 5]) for i in range(len(w) - 4))
    lines = Counter(l for l in text.split("\n") if l)
    nl, ndl = sum(lines.values()), len(lines)
    tlc = sum(c * len(l) for l, c in lines.items())
    dlc = sum(c * len(l) for l, c in lines.items() if c > 1)
    top = max(((c, g) for g, c in bg.items()), default=None)
    n5, d5 = sum(g5.values()), sum(c for c in g5.values() if c > 1)
    dlf = round((nl - ndl) / nl, 6) if nl else 0.0
    dlcf = round(dlc / tlc, 6) if nl else 0.0
    tbf = round(top[0] * len(top[1]) / max(nc, 1), 6) if top else 0.0
    d5f = round(d5 / n5, 6) if n5 else 0.0
    return (nl, dlf, dlcf, top[1] if top else None, tbf, d5f,
            dlf <= 0.30 and tbf <= 0.18 and d5f <= 0.15)


def test_repetition_scores_match_python_twin(spark):
    """repetition_scores == the per-doc Python twin on multi-line docs
    with duplicated lines (the path the newline-free parquet corpus never
    exercises), heavy 5-gram loops, bigram-count ties, and sub-threshold
    docs."""
    from akf_cdparser_spark.analytics import text as T
    rows = [
        ("d0", " ".join(f"word{i} mid{i} tail{i}" for i in range(25))),
        ("d1", "spam spam spam spam spam spam spam spam spam spam"),
        ("d2", "line a\nline b\nline a\nline b\nline a\nunique tail"),
        ("d3", "ab cd ab cd ef gh ef gh"),        # bigram tie -> lex max
        ("d4", "la le lu " * 30),                  # periodic 5-gram dup
        ("d5", "x"),                               # no bigram at all
        ("d6", "Zeile eins\n\nZeile eins\n  \nZeile zwei"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: (r.n_lines, r.dup_line_frac, r.dup_line_char_frac,
                      r.top_bigram, r.top_bigram_frac, r.dup_5gram_frac,
                      r.repetition_ok)
           for r in T.repetition_scores(docs).collect()}
    for doc_id, text in rows:
        assert got[doc_id] == _repetition_twin(text), doc_id
    assert got["d1"][6] is False          # the all-spam doc is gated out
    assert got["d0"][6] is True           # clean prose passes


def test_training_mix_repetition_gate_composition(spark):
    """curate_training_mix(repetition_gate=True) == the default operator
    over the repetition-ok prefiltered docs (the FineWeb order: gate
    before dedup), and the gate actually removes something here."""
    from akf_cdparser_spark.analytics import text as T
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ok = T.repetition_scores(docs).filter("repetition_ok").select("doc_id")
    manual = T.curate_training_mix(docs.join(ok, "doc_id", "left_semi"))
    gated = T.curate_training_mix(docs, repetition_gate=True)
    assert sorted(map(tuple, gated.collect())) \
        == sorted(map(tuple, manual.collect()))
    assert gated.count() < T.curate_training_mix(docs).count()


def test_pii_scan_counts_and_redaction(spark):
    """pii_scan: counts per class on raw text, ordered redaction (IBAN
    before phone so an IBAN's digit tail is never half-rewritten into a
    phone match), zero false positives on clean German prose."""
    from akf_cdparser_spark.analytics import text as T
    rows = [
        ("p0", "Kontakt max.muster@firma.de oder +49 30 1234567 rufen"),
        ("p1", "Konto DE89370400440532013000 Server 10.1.2.3 aktiv"),
        ("p2", "zwei Mails: a@b.de und c.d@e-f.org nebeneinander"),
        ("p3", "Kein PII hier, nur Umsatz 12,5 Mio. und Jahr 1987."),
        ("p4", "+49 89 99999999 und +49 30 1111111 doppelt"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: r for r in T.pii_scan(docs).collect()}
    assert (got["p0"].n_emails, got["p0"].n_phones) == (1, 1)
    assert got["p0"].redacted == "Kontakt <EMAIL> oder <PHONE> rufen"
    assert (got["p1"].n_ibans, got["p1"].n_ipv4) == (1, 1)
    assert got["p1"].redacted == "Konto <IBAN> Server <IP> aktiv"
    assert got["p2"].n_emails == 2
    assert got["p2"].redacted == "zwei Mails: <EMAIL> und <EMAIL> nebeneinander"
    assert got["p3"].has_pii is False and got["p3"].redacted == rows[3][1]
    assert got["p4"].n_phones == 2
    assert got["p4"].redacted == "<PHONE> und <PHONE> doppelt"


def test_decontaminate_flags_planted_overlap(spark):
    """decontaminate: a training doc sharing one verbatim 13-gram run with
    a benchmark doc is flagged; a 12-token shared run is NOT (the rule is
    exact n-grams, not fuzzy); clean docs pass; the broadcast side is the
    benchmark gram set."""
    from akf_cdparser_spark.analytics import text as T
    bench_sent = " ".join(f"b{i}" for i in range(13))      # 13 tokens
    short_run = " ".join(f"b{i}" for i in range(12))        # 12 tokens only
    docs = spark.createDataFrame(
        [(1, "prefix words here " + bench_sent + " suffix words"),
         (2, "prefix " + short_run + " then diverges entirely x y z"),
         (3, "totally clean document with its own distinct phrasing only")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "eval question: " + bench_sent + " answer follows")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_hits, r.contaminated)
           for r in T.decontaminate(docs, bench).collect()}
    assert got[1][1] is True and got[1][0] >= 1
    assert got[2] == (0, False)
    assert got[3] == (0, False)
    plan = T.decontaminate(docs, bench)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def _pagerank_twin(edges, n, n_iter=3, scale=10**12, d_pct=85):
    """Pure-Python fixed-point PageRank twin (same integer semantics)."""
    from collections import Counter, defaultdict
    deg = Counter(s for s, _ in edges)
    base = scale // n
    tele = ((100 - d_pct) * base) // 100
    score = {v: base for v in range(n)}
    for _ in range(n_iter):
        inm = defaultdict(int)
        for s, t in edges:
            inm[t] += score[s] // deg[s]
        score = {v: tele + (d_pct * inm.get(v, 0)) // 100 for v in range(n)}
    return score


def test_pagerank_fixedpoint_matches_twin_and_is_order_invariant(spark):
    """Fixed-point PageRank == the integer twin on a graph with a dangling
    node, a sink hub and parallel edges; and the SAME bit-exact scores at
    different shuffle widths — the determinism that justifies putting an
    iterative algorithm behind a value-hashed oracle."""
    from akf_cdparser_spark.analytics.graph import pagerank_fixedpoint
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 2),  # parallel
             (4, 2)]                                          # 5 dangling-free?
    n = 6                                                     # node 5 dangling
    edf = spark.createDataFrame(edges, "src long, dst long")
    want = _pagerank_twin(edges, n)
    got = {r.node: r.score
           for r in pagerank_fixedpoint(spark, edf, n).collect()}
    assert got == want
    wide = {r.node: r.score
            for r in pagerank_fixedpoint(
                spark, edf.repartition(7), n).collect()}
    assert wide == got


def test_kmv_distinct_accuracy_and_exhaustive_branch(spark):
    """KMV sketch: the estimator lands within 3x its theoretical standard
    error (1/sqrt(k-2), here ~6.3% at k=256) of the true distinct count on
    the sf0.01 lineitem keys, the exhaustive branch (distinct < k) returns
    the EXACT count with a NULL kth_hash, and the plan takes a global
    top-k (TakeOrderedAndProject), never a full sort."""
    from akf_cdparser_spark.analytics.sketches import kmv_distinct
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    got = {r["column"]: r for r in kmv_distinct(
        li, ["l_orderkey", "l_partkey", "l_suppkey"]).collect()}
    exact = li.select(
        *[__import__("pyspark.sql.functions", fromlist=["F"])
          .countDistinct(c).alias(c)
          for c in ("l_orderkey", "l_partkey", "l_suppkey")]).head()
    for c in ("l_orderkey", "l_partkey"):
        rel = abs(got[c].est_distinct - exact[c]) / exact[c]
        assert rel < 3 * (1 / (254 ** 0.5)), (c, got[c].est_distinct, exact[c])
        assert got[c].kth_hash is not None
    # l_suppkey: 100 suppliers at sf0.01 -> exhaustive branch
    assert got["l_suppkey"].est_distinct == exact["l_suppkey"]
    assert got["l_suppkey"].kth_hash is None
    plan = kmv_distinct(li, ["l_orderkey"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort [hv" not in plan  # no full sort of the hash space


def test_hash_split_stability_and_rates(spark):
    """hash_split: every row gets exactly one split; assignments are
    stable when the corpus GROWS (the no-leakage property a random()
    split lacks); a different salt reassigns independently; empirical
    rates track the weights."""
    from akf_cdparser_spark.analytics import text as T
    w = {"train": 0.8, "valid": 0.1, "test": 0.1}
    full = spark.range(2000).select(F.col("id").alias("doc_id"))
    half = full.filter("doc_id < 1000")
    a = {r.doc_id: r.split for r in T.hash_split(half, w).collect()}
    b = {r.doc_id: r.split for r in T.hash_split(full, w).collect()}
    assert all(b[k] == v for k, v in a.items())  # growth never reassigns
    from collections import Counter
    rates = Counter(b.values())
    assert abs(rates["train"] / 2000 - 0.8) < 0.05
    assert abs(rates["valid"] / 2000 - 0.1) < 0.03
    assert abs(rates["test"] / 2000 - 0.1) < 0.03
    c = {r.doc_id: r.split
         for r in T.hash_split(full, w, salt="split-v2").collect()}
    assert any(c[k] != b[k] for k in c)  # new salt = fresh assignment


def test_sentence_dedup_keeper_rule_and_reassembly(spark):
    """sentence_dedup: a boilerplate sentence survives only in its first
    global (doc_id, pos) occurrence (case-insensitive match), reassembly
    preserves position order, fully-boilerplate docs collapse to '', and
    a single-sentence unique doc passes through untouched."""
    from akf_cdparser_spark.analytics import text as T
    rows = [
        ("a", "Alle Rechte vorbehalten. Einzigartiger Satz A. Impressum"),
        ("b", "alle rechte vorbehalten. Einzigartiger Satz B. Impressum"),
        ("c", "Alle Rechte vorbehalten. Impressum"),  # nothing survives
        ("d", "Ein ganz eigener Text ohne Punktgrenzen"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: (r.cleaned_text, r.n_sentences, r.n_removed)
           for r in T.sentence_dedup(docs).collect()}
    assert got["a"] == (
        "Alle Rechte vorbehalten. Einzigartiger Satz A. Impressum", 3, 0)
    assert got["b"] == ("Einzigartiger Satz B", 3, 2)
    assert got["c"] == ("", 2, 2)
    assert got["d"] == ("Ein ganz eigener Text ohne Punktgrenzen", 1, 0)


def test_profile_table_stats(spark):
    """profile_table: exact n_rows/n_nulls/min/max per column, KMV
    estimate consistent with kmv_distinct, nulls excluded from the
    sketch."""
    from akf_cdparser_spark.analytics.sketches import profile_table
    rows = [(1, "a"), (2, None), (3, "b"), (4, "a"), (5, None)]
    df = spark.createDataFrame(rows, "k long, v string")
    got = {r["column"]: r for r in profile_table(df, ["k", "v"]).collect()}
    assert (got["k"].n_rows, got["k"].n_nulls) == (5, 0)
    assert (got["k"].min_value, got["k"].max_value) == ("1", "5")
    assert got["k"].est_distinct == 5          # exhaustive branch
    assert (got["v"].n_rows, got["v"].n_nulls) == (5, 2)
    assert (got["v"].min_value, got["v"].max_value) == ("a", "b")
    assert got["v"].est_distinct == 2          # nulls not sketched


def test_cms_invariant_and_exactness_on_heavy_hitters(spark):
    """Count-min: every estimate >= the exact count (the CMS invariant),
    true heavy hitters dominate their collision noise (est within 2x on
    this corpus), and a tiny-width sketch still never under-counts."""
    from akf_cdparser_spark.analytics.sketches import cms_token_counts
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rows = cms_token_counts(docs).collect()
    assert len(rows) == 15
    for r in rows:
        assert r.cms_est >= r.exact_n, r
        assert r.cms_est <= 2 * r.exact_n, r  # heavy hitters stay sharp
    tiny = cms_token_counts(docs, top_n=10, width=8).collect()
    assert all(r.cms_est >= r.exact_n for r in tiny)  # invariant under load


def test_kmv_set_ops_accuracy(spark):
    """KMV set estimates vs exact values on customer keys x ordering
    customers: union/intersection within 3x the sketch's standard error,
    the exhaustive branch exact on small sets, and composition sanity
    (intersection <= min side, union >= max side — on the estimates)."""
    from akf_cdparser_spark.analytics.sketches import kmv_set_ops
    cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    row = kmv_set_ops(cust, "c_custkey", orders, "o_custkey").head()
    exact_a = cust.select("c_custkey").distinct().count()
    exact_b = orders.select("o_custkey").distinct().count()
    exact_union = cust.select(F.col("c_custkey").alias("k")).union(
        orders.select("o_custkey")).distinct().count()
    exact_inter = exact_a + exact_b - exact_union
    tol = 3 / (254 ** 0.5)
    assert abs(row.est_union - exact_union) / exact_union < tol
    assert abs(row.est_intersection - exact_inter) / exact_inter < 2 * tol
    # exhaustive branch: two tiny overlapping sets -> exact everything
    a = spark.createDataFrame([(i,) for i in range(40)], "v long")
    b = spark.createDataFrame([(i,) for i in range(20, 60)], "v long")
    small = kmv_set_ops(a, "v", b, "v").head()
    assert (small.est_union, small.est_intersection) == (60, 20)
    assert small.kth_hash is None


def _morton2(x: int, y: int, bits: int = 8) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
    return z


def test_zorder_key_twin_and_pruning_locality(spark):
    """zorder_key == the pure-Python Morton twin on random points, and the
    layout claim holds: range-partitioning by z gives per-file x/y
    bounding boxes whose average area is a small fraction of the full
    domain (the min/max-stats pruning win), while the plan shows
    RangePartitioning."""
    import random as _r
    from akf_cdparser_spark.operators.layout import zorder_key, zorder_layout
    rng = _r.Random(7)
    pts = [(i, rng.randrange(256), rng.randrange(256)) for i in range(4000)]
    df = spark.createDataFrame(pts, "i long, x long, y long")
    got = {r.i: r.z for r in df.withColumn(
        "z", zorder_key(["x", "y"], bits=8)).collect()}
    for i, x, y in pts:
        assert got[i] == _morton2(x, y), (i, x, y)
    laid = zorder_layout(df, ["x", "y"], bits=8, n_files=16)
    assert "rangepartitioning(_z" in laid._jdf.queryExecution() \
        .executedPlan().toString()
    boxes = (laid.groupBy(F.spark_partition_id().alias("p"))
             .agg(((F.max("x") - F.min("x") + 1)
                   * (F.max("y") - F.min("y") + 1)).alias("area"),
                  F.count("*").alias("n"))
             .collect())
    mean_area = sum(r.area for r in boxes) / len(boxes)
    # random assignment would give ~full-domain boxes (65536); the curve
    # keeps files inside small hyper-rectangles
    assert mean_area < 65536 / 4, mean_area


def test_pack_shards_stream_properties(spark):
    """pack_shards: offsets are a gapless token stream in md5 order,
    shard = first-token slot, every shard except the last spans exactly
    to its capacity boundary, and the result is identical at different
    parallelism (the two-phase cumsum is partitioning-free)."""
    import hashlib
    from akf_cdparser_spark.analytics.packing import pack_shards
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    res = pack_shards(docs, 512)
    rows = sorted(res.collect(), key=lambda r: r.start_offset)
    res._ordered_cache.unpersist()
    # gapless: each start = previous start + previous n_tokens
    acc = 0
    order = []
    for r in rows:
        assert r.start_offset == acc
        assert r.shard_id == acc // 512
        acc += r.n_tokens
        order.append(r.doc_id)
    # md5 order honored
    assert order == sorted(order,
                           key=lambda d: hashlib.md5(str(d).encode())
                           .hexdigest())
    # partitioning invariance
    res2 = pack_shards(docs.repartition(13), 512)
    got2 = sorted(map(tuple, res2.collect()))
    res2._ordered_cache.unpersist()
    assert got2 == sorted(map(tuple, rows))


def test_quantize_embeddings_reconstruction(spark):
    """int8 quantization: codes within [-127, 127], reconstruction error
    within one quantization step per element, dequantized cosine vs true
    cosine within 2% on real embeddings, zero vectors handled."""
    from akf_cdparser_spark.analytics.similarity import quantize_embeddings
    import math
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    raw = {r.vec_id: list(r.embedding) for r in emb.limit(50).collect()}
    got = {r.vec_id: r for r in quantize_embeddings(
        emb.limit(50)).collect()}
    for vid, v in raw.items():
        r = got[vid]
        q = [int(t) for t in r.q_codes.split(",")]
        assert len(q) == len(v) and all(-127 <= c <= 127 for c in q)
        s = max(abs(x) for x in v)
        assert abs(r.scale - round(s, 6)) < 1e-9
        for x, c in zip(v, q):
            assert abs(x - c * s / 127) <= s / 127 + 1e-9
    a, b = list(raw.values())[0], list(raw.values())[1]
    qa = [int(t) for t in got[list(raw)[0]].q_codes.split(",")]
    qb = [int(t) for t in got[list(raw)[1]].q_codes.split(",")]
    sa, sb = max(map(abs, a)), max(map(abs, b))
    da = [c * sa / 127 for c in qa]
    db = [c * sb / 127 for c in qb]

    def cos(x, y):
        return (sum(i * j for i, j in zip(x, y))
                / (math.dist(x, [0] * len(x)) * math.dist(y, [0] * len(y))))
    assert abs(cos(a, b) - cos(da, db)) < 0.02
    zero = spark.createDataFrame([(99, [0.0] * 8)],
                                 "vec_id long, embedding array<float>")
    zr = quantize_embeddings(zero).head()
    assert zr.scale == 0.0 and set(zr.q_codes.split(",")) == {"0"}


def test_int8_topk_recall_vs_float_path(spark):
    """The int8 scan path: recall@5 >= 0.9 vs the float brute-force on
    real embeddings (quantization noise only — the plan is the same
    broadcast-queries single-scan shape), and the plan stays free of
    Python (BatchEvalPython never appears)."""
    from akf_cdparser_spark.analytics.similarity import (
        cosine_topk_bruteforce, cosine_topk_int8)
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = [0, 7, 42, 99, 123]
    exact = {}
    for r in cosine_topk_bruteforce(emb, qids, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    got = {}
    res = cosine_topk_int8(emb, qids, k=5)
    for r in res.collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(exact[q] & got[q]) / 5 for q in qids]
    assert sum(recalls) / len(recalls) >= 0.9, recalls
    assert "BatchEvalPython" not in res._jdf.queryExecution() \
        .executedPlan().toString()


def test_minhash_index_probe_matches_batch_candidates(spark, tmp_path, planted):
    """Incremental dedup: probing a persisted MinHash index with a new
    batch returns exactly the batch-vs-corpus subset of the full batch
    run's candidate pairs (same exact-Jaccard scores), and the probe plan
    prunes index partitions via the bkp join key."""
    new_ids = {"d01", "d02", "d04"}
    newb = planted.filter(F.col("doc_id").isin(*new_ids))
    idxb = planted.filter(~F.col("doc_id").isin(*new_ids))
    path = str(tmp_path / "mh_index")
    dedup.write_minhash_index(idxb, path)
    probed = dedup.probe_minhash_index(spark, path, newb)
    got = {(r.new_doc, r.idx_doc): r.jaccard for r in probed.collect()}

    full = {(r.doc_a, r.doc_b): r.jaccard
            for r in dedup.minhash_candidates(planted).collect()}
    expected = {}
    for (a, b), j in full.items():
        if (a in new_ids) != (b in new_ids):
            new_doc, idx_doc = (a, b) if a in new_ids else (b, a)
            expected[(new_doc, idx_doc)] = j
    assert got == expected and got  # non-vacuous: cross pairs exist

    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan or "PartitionFilters: [isnotnull(bkp" \
        in plan, plan


def test_minhash_index_probe_self_is_empty(spark, tmp_path, planted):
    """Probing with docs already indexed yields no self-pairs (the
    doc_id != new_doc guard), only their genuine neighbors."""
    path = str(tmp_path / "mh_index_self")
    dedup.write_minhash_index(planted, path)
    probed = dedup.probe_minhash_index(spark, path, planted.limit(0))
    assert probed.count() == 0


def _stage_infos(spark, group):
    """(numTasks, name) of every stage the jobs of ``group`` ran, read
    after the listener bus has delivered every pending event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    out = []
    for job in st.getJobIdsForGroup(group):
        for sid in st.getJobInfo(job).stageIds:
            info = st.getStageInfo(sid)
            out.append((info.numTasks, info.name))
    return out


def test_minhash_probe_runs_no_per_directory_or_schema_job(spark, tmp_path):
    """A probe of an index with more than 32 bucket directories lists them
    in one task per core, not one per directory, and infers no schema:
    no stage has as many tasks as there are directories, and no 1-task
    stage comes from a parquet read. A plain ``spark.read.parquet`` of the
    same table shows the inference stage, so the check is not vacuous."""
    import random as _random
    rng = _random.Random(11)
    vocab = [f"v{j}" for j in range(80)]
    rows = [(f"x{i:03d}", " ".join(rng.choice(vocab) for _ in range(25)))
            for i in range(60)]
    rows += [(f"y{i:03d}", text + " tail") for i, (_, text) in
             enumerate(rows[:5])]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    batch = ["x001", "y002", "x040"]
    path = str(tmp_path / "mh_wide")
    dedup.write_minhash_index(docs.filter(~F.col("doc_id").isin(batch)),
                              path)
    n_dirs = sum(d.startswith("bkp=") for d in os.listdir(f"{path}/bands"))
    assert n_dirs > 32

    sc = spark.sparkContext
    sc.setJobGroup("mh_probe", "minhash probe")
    try:
        got = dedup.probe_minhash_index(
            spark, path, docs.filter(F.col("doc_id").isin(batch))).collect()
        sc.setJobGroup("mh_control", "inferred read")
        spark.read.parquet(f"{path}/bands").columns
    finally:
        sc.setJobGroup("", "")
    assert got  # the y-copies of x001/x002 are found
    probe = _stage_infos(spark, "mh_probe")
    assert probe and all(n != n_dirs for n, _ in probe), probe
    assert not [s for s in probe if s[0] == 1 and s[1].startswith("parquet")]
    control = _stage_infos(spark, "mh_control")
    assert [s for s in control if s[0] == 1 and s[1].startswith("parquet")]


def test_minhash_index_rewrite_with_other_doc_id_type(spark, tmp_path,
                                                      planted):
    """The recorded schema belongs to the last write: an index rebuilt at
    the same path with long ``doc_id``s (after string ones) probes with
    the new types, and a table without a recorded schema raises."""
    from akf_cdparser_spark.analytics import index_store

    path = str(tmp_path / "mh_retyped")
    dedup.write_minhash_index(planted.filter(F.col("doc_id") != "d01"), path)
    first = dedup.probe_minhash_index(
        spark, path, planted.filter(F.col("doc_id") == "d01")).collect()
    assert {r.idx_doc for r in first} >= {"d00", "d06"}

    longs = planted.select(
        F.substring("doc_id", 2, 2).cast("long").alias("doc_id"), "text")
    dedup.write_minhash_index(longs.filter(F.col("doc_id") != 1), path)
    got = {(r.new_doc, r.idx_doc): r.jaccard
           for r in dedup.probe_minhash_index(
               spark, path, longs.filter(F.col("doc_id") == 1)).collect()}
    full = {(r.doc_a, r.doc_b): r.jaccard
            for r in dedup.minhash_candidates(longs).collect()}
    assert got == {(1, b if a == 1 else a): j for (a, b), j in full.items()
                   if 1 in (a, b)}
    assert got

    os.remove(f"{path}/sets/{index_store.SCHEMA_FILE}")
    with pytest.raises(FileNotFoundError):
        dedup.probe_minhash_index(spark, path, longs)


def test_minhash_probe_short_and_empty_docs_match_batch(spark, tmp_path):
    """Documents shorter than n tokens are one shingle, empty and
    whitespace-only ones have none: probing with them gives exactly the
    cross pairs ``minhash_candidates`` finds over the union."""
    rows = [("i0", "alpha beta"), ("i1", "alpha"), ("i2", ""),
            ("i3", "alpha beta gamma delta"), ("i4", "   "),
            ("n0", "alpha beta"), ("n1", "alpha"), ("n2", ""),
            ("n3", " \t "), ("n4", "alpha beta gamma"), ("n5", None)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    is_new = F.col("doc_id").startswith("n")
    path = str(tmp_path / "mh_short")
    dedup.write_minhash_index(docs.filter(~is_new), path)
    got = {(r.new_doc, r.idx_doc): r.jaccard
           for r in dedup.probe_minhash_index(
               spark, path, docs.filter(is_new)).collect()}
    expected = {}
    for r in dedup.minhash_candidates(docs).collect():
        a, b = r.doc_a, r.doc_b
        if a.startswith("n") != b.startswith("n"):
            expected[(a, b) if a.startswith("n") else (b, a)] = r.jaccard
    assert got == expected
    assert got[("n0", "i0")] == 1.0 and got[("n1", "i1")] == 1.0


def _py_bpe(texts, n_merges):
    """Reference BPE (Sennrich-style, no end-of-word marker)."""
    vocab = {}
    for t in texts:
        for w in t.split():
            k = tuple(w)
            vocab[k] = vocab.get(k, 0) + 1
    merges = []
    for step in range(n_merges):
        counts = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        (l, r), pc = min(counts.items(),
                         key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((step, l, r, pc))
        nxt = {}
        for syms, c in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + c
        vocab = nxt
    return merges, vocab


def test_learn_bpe_matches_python_reference(spark):
    """Distributed BPE learning == the sequential reference on a corpus
    with ties (the tie-break is exercised) and overlapping pairs ("aaaa"),
    at two parallelism levels (partitioning invariance)."""
    from akf_cdparser_spark.analytics.bpe import apply_bpe, learn_bpe

    texts = ["low low low low low lower lower newest newest newest",
             "newest newest newest widest widest widest aaaa aaaa",
             "ab ab ba ba ba ab",  # ties: (a,b) vs (b,a) -> left asc wins
             "zzz zzz"]
    rows = [(f"d{i}", t) for i, t in enumerate(texts)]
    expected, final_vocab = _py_bpe(texts, 8)

    for parts in (1, 7):
        docs = spark.createDataFrame(rows, "doc_id string, text string") \
            .repartition(parts)
        got = [(r.step, r.left, r.right, r.pair_count)
               for r in learn_bpe(docs, n_merges=8)
               .orderBy("step").collect()]
        assert got == expected

    # apply_bpe under the learned merges reproduces the reference
    # tokenization (token counts per doc)
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    merges = [(l, r) for _s, l, r, _c in expected]
    got_tok = {r.doc_id: (r.n_tokens, r.n_distinct_tokens)
               for r in apply_bpe(docs, merges).collect()}

    def py_apply(word):
        out = list(word)
        for l, r in merges:
            nxt = []
            for x in out:
                if nxt and nxt[-1] == l and x == r:
                    nxt[-1] = l + r
                else:
                    nxt.append(x)
            out = nxt
        return out
    exp_tok = {}
    for i, t in enumerate(texts):
        toks = [tok for w in t.split() for tok in py_apply(w)]
        exp_tok[f"d{i}"] = (len(toks), len(set(toks)))
    assert got_tok == exp_tok


def test_kmeans_int8_planted_clusters(spark):
    """Integer k-means recovers planted well-separated clusters, and the
    assignment is identical at different parallelism (integer arithmetic
    + total tie-breaks = partitioning-invariant)."""
    from akf_cdparser_spark.analytics.clustering import kmeans_int8

    rows = []
    for i in range(30):
        base = [10.0, 0.0, 0.0, 0.0] if i % 3 == 0 else (
            [0.0, 10.0, 0.0, 0.0] if i % 3 == 1 else [0.0, 0.0, 10.0, 0.0])
        rows.append((i, [b + ((i * 7) % 5) * 0.1 for b in base]))
    outs = []
    for parts in (1, 8):
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>").repartition(parts)
        got = {r.vec_id: r.cluster_id
               for r in kmeans_int8(emb, k=3, n_iter=3).collect()}
        outs.append(got)
    assert outs[0] == outs[1]
    got = outs[0]
    # planted groups land in single clusters each
    for m in range(3):
        assert len({got[i] for i in range(30) if i % 3 == m}) == 1
    assert len({got[i] for i in range(30)}) == 3


def test_pagerank_weighted_reduces_to_unweighted_and_is_invariant(spark):
    """pagerank_weighted with all weights = 1 equals pagerank_fixedpoint
    on the same simple graph, and the weighted scores are identical at
    two shuffle widths (integer-arithmetic invariance)."""
    from akf_cdparser_spark.analytics.graph import (pagerank_fixedpoint,
                                                    pagerank_weighted)

    edges = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)]
    e1 = spark.createDataFrame(edges, "src long, dst long")
    ew = spark.createDataFrame([(s, d, 1) for s, d in edges],
                               "src long, dst long, weight long")
    a = {r.node: r.score
         for r in pagerank_fixedpoint(spark, e1, 4, n_iter=3).collect()}
    b = {r.node: r.score
         for r in pagerank_weighted(spark, ew, 4, n_iter=3).collect()}
    assert a == b

    w = spark.createDataFrame([(0, 1, 3), (0, 2, 1), (1, 2, 2), (2, 0, 5)],
                              "src long, dst long, weight long")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    outs = []
    for parts in ("2", "17"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        outs.append({r.node: r.score
                     for r in pagerank_weighted(spark, w, 3, n_iter=4)
                     .collect()})
    spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert outs[0] == outs[1]
    # weight asymmetry shows up: node 1 (weight-3 in-edge) outranks node 2's
    # teleport-only... compute expected relation instead: heavier in-flow wins
    assert outs[0][1] != outs[0][2]


def _repeated_spans_twin(rows, k=20, min_count=2):
    """Pure-Python ExactSubstr reference: per-position Rabin-Karp k-gram
    hashes, global multiplicity gate, per-doc merged-span stats (same
    arithmetic as analytics.text.repeated_spans)."""
    from collections import Counter
    M, B = 1_000_000_007, 257
    grams, cnt = {}, Counter()
    for doc_id, text in rows:
        s = text.lower()
        hs = []
        for i in range(max(len(s) - k + 1, 0)):
            acc = 0
            for c in s[i:i + k]:
                acc = (acc * B + ord(c)) % M
            hs.append(acc)
        grams[doc_id] = hs
        cnt.update(hs)
    out = {}
    for doc_id, hs in grams.items():
        ps = [i for i, h in enumerate(hs) if cnt[h] >= min_count]
        if not ps:
            continue
        n_spans = 1 + sum(1 for a, b in zip(ps, ps[1:]) if b - a > k)
        dup_chars = sum(min(b - a, k) for a, b in zip(ps, ps[1:])) + k
        out[doc_id] = (len(ps), n_spans, dup_chars)
    return out


def test_repeated_spans_planted_and_twin(spark):
    """repeated_spans == the pure-Python ExactSubstr twin on planted
    shapes: a cross-doc duplicated sentence, a WITHIN-doc repeat (the
    multiplicity gate counts repeats inside one document, as the
    suffix-array original does), a unique doc (absent from output), and
    two far-apart copies inside one doc (two merged spans)."""
    from akf_cdparser_spark.analytics import text as T
    dup = "this exact sentence is repeated verbatim across documents"
    far = "another duplicated block of text here"
    rows = [
        ("a", "unique prefix alpha " + dup + " unique suffix omega"),
        ("b", dup + " with a completely different continuation body"),
        ("c", "totally unique document with no repeated content at all xyzq"),
        ("d", far + " " + " ".join("mid%dtok%d" % (i, i * 7)
                                    for i in range(12)) + " " + far),
        ("e", "zz " + dup + " zz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: (r.n_dup_windows, r.n_spans, r.dup_chars)
           for r in T.repeated_spans(docs, k=20).collect()}
    expect = _repeated_spans_twin(rows, k=20)
    assert got == expect
    assert "c" not in got            # unique doc emits no row
    assert got["d"][1] == 2          # far-apart in-doc copies: two spans
    # the duplicated sentence is fully covered in the shorter carrier
    assert got["b"][2] >= len(dup)


def test_repeated_spans_randomized_vs_twin(spark):
    """Randomized small-alphabet corpus (dense collisions of real repeats,
    span merges at every gap size) matches the twin stat-for-stat, and is
    invariant to input partitioning."""
    import random
    from akf_cdparser_spark.analytics import text as T
    rng = random.Random(99)
    rows = [("d%02d" % i,
             "".join(rng.choice("abcd ") for _ in range(rng.randint(5, 90))))
            for i in range(30)]
    expect = _repeated_spans_twin(rows, k=8)
    outs = []
    for parts in (1, 7):
        docs = spark.createDataFrame(
            rows, "doc_id string, text string").repartition(parts)
        outs.append({r.doc_id: (r.n_dup_windows, r.n_spans, r.dup_chars)
                     for r in T.repeated_spans(docs, k=8).collect()})
    assert outs[0] == expect
    assert outs[1] == expect


def _bigram_lm_twin(rows, train_src="src0", scale=1_000_000):
    """Pure-Python add-one bigram LM twin of analytics.text.bigram_lm_scores."""
    from collections import Counter
    toks = {d: t.strip().lower().split() for d, _s, t in rows}
    cb, cu, vocab = Counter(), Counter(), set()
    for d, s, _t in rows:
        if s != train_src or len(toks[d]) < 2:
            continue
        vocab.update(toks[d])
        for a, b in zip(toks[d], toks[d][1:]):
            cb[(a, b)] += 1
            cu[a] += 1
    out = {}
    for d, _s, _t in rows:
        t = toks[d]
        if len(t) < 2:
            continue
        liks = [((cb[(a, b)] + 1) * scale) // (cu[a] + len(vocab))
                for a, b in zip(t, t[1:])]
        out[d] = (len(liks), sum(liks) // len(liks))
    return out


def test_bigram_lm_scores_twin_and_ordering(spark):
    """bigram_lm_scores == the pure-Python add-one LM twin, and the
    semantics hold: a document made of trusted-subset phrases outscores
    junk the LM never saw, single-token docs emit no row, and unseen
    bigrams floor at scale DIV (cu + V) not zero (smoothing)."""
    from akf_cdparser_spark.analytics import text as T
    rows = [
        ("t1", "src0", "the quick brown fox jumps over the lazy dog"),
        ("t2", "src0", "the quick brown fox runs over the green hill"),
        ("s1", "src1", "the quick brown fox jumps over the lazy dog"),
        ("s2", "src1", "zzq wwk vvp qqm nnb zzq wwk"),
        ("s3", "src1", "single"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, source string, text string")
    got = {r.doc_id: (r.n_bigrams, r.lm_score)
           for r in T.bigram_lm_scores(docs).collect()}
    assert got == _bigram_lm_twin(rows)
    assert "s3" not in got                      # no bigrams, no row
    assert got["s1"][1] > got["s2"][1]          # in-domain >> junk
    assert got["s2"][1] > 0                     # add-one smoothing floor


def test_ivf_int8_recall_gate_and_quantization_consistency(spark):
    """The int8 IVF probe (q101) reaches the same mean recall floor as the
    float IVF path on the sf0.01 embeddings, and its candidate PRUNING is
    identical to the float path's (assignment stays float; only the scan
    arithmetic is quantized) — so any recall delta is quantization noise,
    never a different index."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = [0, 7, 42, 99, 123]
    rows = similarity.ivf_int8_recall_vs_bruteforce(emb, qids, k=5).collect()
    recalls = [r.recall for r in rows]
    assert len(recalls) == 5
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    # exhaustive k: top-k == the ENTIRE candidate set, so set equality
    # pins that both paths probe the exact same inverted lists
    big = 10 ** 6
    flt = {(r.query_id, r.vec_id)
           for r in similarity.cosine_topk_ivf(emb, qids, k=big).collect()}
    i8 = {(r.query_id, r.vec_id)
          for r in similarity.cosine_topk_ivf_int8(emb, qids,
                                                   k=big).collect()}
    assert flt == i8 and len(flt) > 5 * len(qids)


def _seq_unimax(counts, budget, cap):
    """Sequential smallest-first UniMax walk (Chung et al. 2023), integer
    quotas — the ground truth the closed form must reproduce."""
    order = sorted(counts, key=lambda t: (t[1], t[0]))
    rem, k, out = budget, len(order), {}
    for i, (s, n) in enumerate(order):
        a = min(cap * n, rem // (k - i))
        out[s] = a
        rem -= a
    return out


def test_unimax_allocation_matches_sequential_walk(spark):
    """The relational closed form == the sequential UniMax walk on a
    SKEWED mix (tiny sources hit the epoch cap, big ones split the rest
    with a remainder tail) and on an all-capped mix (budget >= cap*total);
    allocations exhaust exactly min(budget, cap*total)."""
    from akf_cdparser_spark.analytics import mix
    rows = []
    sizes = {"tiny": 3, "small": 8, "mid": 120, "big": 400, "huge": 401}
    for src, n_tok in sizes.items():
        rows.append((f"{src}-doc", src, " ".join(f"w{j}" for j in range(n_tok))))
    docs = spark.createDataFrame(rows, "doc_id string, source string, text string")
    total = sum(sizes.values())

    for budget in (total // 2, 5 * total, 7, 0):
        got = {r.source: r.alloc_tokens
               for r in mix.unimax_allocation(docs, budget=budget,
                                              epoch_cap=3).collect()}
        expect = _seq_unimax(list(sizes.items()), budget, 3)
        assert got == expect, (budget, got, expect)
        assert sum(got.values()) == min(budget, 3 * total)
    # skewed default-budget case: caps bind for the tiny sources
    got = {r.source: r.alloc_tokens
           for r in mix.unimax_allocation(docs, epoch_cap=3).collect()}
    expect = _seq_unimax(list(sizes.items()), total // 2, 3)
    assert got == expect
    assert got["tiny"] == 9 and got["small"] == 24   # capped region real


def _cdc_twin(rows, k=8, mask=64, min_count=2):
    """Pure-Python CDC twin: cut at 0 + every gram start p>0 with
    rabin_hash % mask == 0; chunks dedupe by exact text corpus-wide."""
    from collections import Counter
    chunks = {}
    cnt = Counter()
    for doc_id, text in rows:
        s = text.lower()
        hs = []
        for i in range(max(len(s) - k + 1, 0)):
            acc = 0
            for c in s[i:i + k]:
                acc = (acc * 257 + ord(c)) % 1_000_000_007
            hs.append(acc)
        cuts = [0] + [p for p in range(1, len(hs)) if hs[p] % mask == 0] \
            + [len(s)]
        cs = [s[a:b] for a, b in zip(cuts, cuts[1:]) if b > a]
        chunks[doc_id] = cs
        cnt.update(cs)
    out = {}
    for doc_id, cs in chunks.items():
        dup = [c for c in cs if cnt[c] >= min_count]
        out[doc_id] = (len(cs), len(dup), sum(len(c) for c in dup))
    return out


def test_cdc_chunks_twin_and_shift_resilience(spark):
    """cdc_chunk_stats == the pure-Python CDC twin, and the property that
    justifies content-defined over fixed-offset blocking holds: inserting
    one character near the head of a document leaves every chunk after
    the next boundary identical (fixed blocks would shift ALL of them)."""
    from akf_cdparser_spark.analytics import dedup as D
    base = ("the archive stores every fetched page as content chunks so "
            "that re-crawled snapshots share storage with their previous "
            "versions and only modified regions cost new bytes while the "
            "politeness scheduler keeps host budgets fair across epochs")
    shifted = base[:10] + "X" + base[10:]
    rows = [("orig", base), ("edit", shifted),
            ("uniq", "a totally different document with zero overlap qkz")]
    got = {r.doc_id: (r.n_chunks, r.n_dup_chunks, r.dup_chunk_chars)
           for r in D.cdc_chunk_stats(spark.createDataFrame(
               rows, "doc_id string, text string")).collect()}
    expect = _cdc_twin(rows)
    assert got == expect
    n_chunks, n_dup, dup_chars = got["orig"]
    assert n_chunks >= 3                      # boundaries actually fire
    assert n_dup >= n_chunks - 2              # only the edited head differs
    assert dup_chars > 0
    assert got["uniq"][1] == 0


def _dsir_twin(rows, train_src="src0", n_buckets=4096, scale=1_000_000):
    """Pure-Python twin of analytics.text.dsir_importance."""
    import hashlib
    from collections import Counter

    def feats(text):
        t = text.strip().lower().split()
        out = []
        for a, b in zip(t, t[1:]):
            h = int(hashlib.md5((a + "\x1f" + b).encode()).hexdigest()[:8],
                    16)
            out.append(h % n_buckets)
        return out

    ct, cr, per_doc = Counter(), Counter(), {}
    for d, s, text in rows:
        fs = feats(text)
        if len(fs) == 0:
            continue
        per_doc[d] = fs
        cr.update(fs)
        if s == train_src:
            ct.update(fs)
    out = {}
    for d, fs in per_doc.items():
        liks = [((ct[f] + 1) * scale) // (cr[f] + 1) for f in fs]
        out[d] = (len(liks), sum(liks) // len(liks))
    return out


def test_dsir_importance_twin_and_contrast(spark):
    """dsir_importance == the pure-Python hashed-feature twin, and the
    contrastive semantics hold: a raw-corpus doc phrased like the target
    subset outscores one phrased like the (non-target) bulk — the axis
    q100's absolute LM likelihood does not give you."""
    from akf_cdparser_spark.analytics import text as T
    target_phrase = "curated encyclopedic prose with careful editing"
    bulk_phrase = "buy cheap pills now click here winner prize"
    rows = [
        ("t1", "src0", target_phrase + " about history and science"),
        ("t2", "src0", target_phrase + " covering art and culture"),
        ("b1", "src1", bulk_phrase + " limited offer act fast today"),
        ("b2", "src1", bulk_phrase + " free money guaranteed results"),
        ("x_target_like", "src1", target_phrase + " regarding geography"),
        ("x_bulk_like", "src2", bulk_phrase + " unsubscribe link below"),
    ]
    docs = spark.createDataFrame(rows,
                                 "doc_id string, source string, text string")
    got = {r.doc_id: (r.n_feats, r.dsir_score)
           for r in T.dsir_importance(docs).collect()}
    assert got == _dsir_twin(rows)
    assert got["x_target_like"][1] > got["x_bulk_like"][1]


def test_semdedup_planted_near_duplicate_pair(spark):
    """A planted near-identical embedding pair must land in one cluster
    with the centroid-CLOSER member removed and the farther one kept (the
    SemDeDup diversity rule); a far-off singleton survives untouched."""
    from akf_cdparser_spark.analytics.clustering import semdedup
    base = [1.0, 0.0, 0.5, -0.25]
    rows = [
        (0, [v * 2.0 for v in base]),          # anchor (shapes centroid)
        (1, [v * 2.0 + 0.01 for v in base]),   # near-dup of 0
        (2, [v * 1.9 for v in base]),          # same direction, closer in
        (3, [-5.0, 4.0, -3.0, 2.0]),           # unrelated singleton
    ]
    docs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in semdedup(docs, k=2, n_iter=2,
                                         threshold=0.95).collect()}
    same = {got[0].cluster_id, got[1].cluster_id, got[2].cluster_id}
    assert len(same) == 1                    # colinear trio clusters as one
    kept = [v for v in (0, 1, 2) if got[v].is_kept]
    removed = [v for v in (0, 1, 2) if not got[v].is_kept]
    assert removed, "cosine ~1 pairs must trigger removals"
    # the survivor of the trio is the max-dist member; every removed
    # member is beaten by a kept (or farther) one by construction
    max_dist = max(got[v].dist for v in (0, 1, 2))
    assert any(got[v].dist == max_dist for v in kept)
    assert got[3].is_kept


def test_quality_canonical_prefers_quality_over_min_id(spark):
    """The keeper rule must override min-id: in a cluster where the
    LOWEST doc_id member fails the quality gate, a higher-id passing
    member is kept; within equal quality_ok, more tokens win; exactly
    one keeper per cluster."""
    from akf_cdparser_spark.analytics import text as T
    long_a = BASE                                 # good quality
    junk = ".,;:!? " * 12 + BASE                  # punct_ratio >= 0.3
    rows = [("a0", junk), ("a1", long_a), ("a2", long_a + " extra words")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.3,
                                      max_doc_freq=None)
    out = dedup.quality_canonical(dedup.dup_clusters(pairs),
                                  T.quality_scores(docs)).collect()
    by_id = {r.doc_id: r for r in out}
    assert len({r.cluster_id for r in out}) == 1       # one cluster
    kept = [r.doc_id for r in out if r.is_kept]
    assert kept == ["a2"]            # passes gate AND has the most tokens
    assert not by_id["a0"].is_kept   # min-id member loses on quality


def test_keyword_index_and_semantics_and_pruned_probe(spark, tmp_path):
    """Inverted-index probe == raw-corpus AND semantics, and the probe's
    scan carries PartitionFilters on the token-prefix partition column —
    the plan shape that makes probes O(terms) partitions at any index
    size (q93/write_ivf_index contract for keyword search)."""
    from akf_cdparser_spark.analytics import text as T
    rows = [("d1", "alpha data join table extra"),
            ("d2", "data join but no third term"),
            ("d3", "table data join"),
            ("d4", "nothing relevant here")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    path = str(tmp_path / "kwidx")
    T.write_text_index(docs, path)
    out = T.keyword_search_index(spark, path, ["data", "join", "table"])
    assert {r.doc_id for r in out.collect()} == {"d1", "d3"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [tkp" in plan and "IN (d,j,t)" in plan, plan


def test_unimax_closed_form_matches_walk_randomized():
    """The q102 closed form == the sequential UniMax walk on randomized
    instances (source counts incl. zeros, budgets from 0 past cap*total,
    caps 1-5) — the committed safety net behind the docstring's claim;
    pure Python, no Spark (the Spark expression mirrors closed_form
    line-for-line and is pinned to it by test_unimax_allocation_...)."""
    import random

    def closed_form(counts, B, cap):
        order = sorted(counts, key=lambda t: (t[1], t[0]))
        k = len(order)
        prefix, m, prev_m, cnt_m = 0, None, 0, 0
        for i, (_s, n) in enumerate(order, start=1):
            cnt = k - i + 1
            if cap * n * cnt > B - prefix:
                m, prev_m, cnt_m = i, prefix, cnt
                break
            prefix += cap * n
        out = {}
        for i, (src, n) in enumerate(order, start=1):
            if m is None or i < m:
                out[src] = cap * n
            else:
                share, extra = divmod(B - prev_m, cnt_m)
                out[src] = share + (1 if (i - m) >= (cnt_m - extra) else 0)
        return out

    rng = random.Random(7)
    for _ in range(4000):
        k = rng.randint(1, 12)
        counts = [(f"s{j}", rng.randint(0, 500)) for j in range(k)]
        total = sum(n for _, n in counts)
        cap = rng.randint(1, 5)
        budget = rng.randint(0, cap * total + 100)
        assert closed_form(counts, budget, cap) == \
            _seq_unimax(counts, budget, cap), (counts, budget, cap)


def test_rolling_fingerprints_long_doc_position_headroom(spark):
    """Docs longer than 2^20 chars must NOT overflow the position field
    into the hash bits (the round-5 ADVICE finding: a 20-bit position
    field silently corrupted fp_hash/fp_pos for >=1.05M-char docs;
    FP_POS_BITS is now 31, covering any JVM string). Verified against an
    O(n) pure-Python rolling twin on a 2^20+64-char document."""
    from akf_cdparser_spark.analytics import text as T

    assert T.FP_POS_BITS >= 31  # position headroom for max JVM strings
    assert T.FP_MOD < 2 ** (63 - T.FP_POS_BITS)  # packing fits signed 64

    k, w = 8, 4
    n = (1 << 20) + 64
    # deterministic aperiodic text over 8 letters (LCG), fast to hash
    lcg, chars = 12345, []
    for _ in range(n):
        lcg = (lcg * 1103515245 + 12345) % (1 << 31)
        chars.append("abcdefgh"[lcg % 8])
    text = "".join(chars)

    # O(n) rolling Rabin-Karp + monotonic-deque window minimum
    from collections import deque
    mod, base = T.FP_MOD, T.FP_BASE
    pow_k1 = pow(base, k - 1, mod)
    codes = [ord(c) for c in text]
    acc = 0
    for c in codes[:k]:
        acc = (acc * base + c) % mod
    packed = [acc << T.FP_POS_BITS]
    for i in range(1, n - k + 1):
        acc = ((acc - codes[i - 1] * pow_k1) * base + codes[i + k - 1]) % mod
        packed.append((acc << T.FP_POS_BITS) + i)
    dq, expected = deque(), set()
    for i, v in enumerate(packed):
        while dq and packed[dq[-1]] > v:
            dq.pop()
        dq.append(i)
        if dq[0] <= i - w:
            dq.popleft()
        if i >= w - 1:
            expected.add(packed[dq[0]])
    mask = (1 << T.FP_POS_BITS) - 1
    expected = {(p & mask, p >> T.FP_POS_BITS) for p in expected}

    got = {(r.fp_pos, r.fp_hash) for r in T.rolling_fingerprints(
        spark.createDataFrame([("big", text)], "doc_id string, text string"),
        k=k, w=w).collect()}
    assert got == expected
    assert max(p for p, _ in got) > (1 << 20)  # positions beyond old field
    assert all(0 <= h < mod for _, h in got)


def test_select_batch_exactness_guards():
    """_select_batch unit cases: disjoint prefix selected; interacting
    candidate STOPS (not skips); a self-pair stops the batch right after
    itself ((M,M) pairs are bounded by its own count); the created-pair
    bound stops when a later candidate's count does not strictly exceed
    the max count of pairs feeding new-symbol pairs."""
    from collections import namedtuple

    from akf_cdparser_spark.analytics.bpe import _select_batch
    R = namedtuple("R", "left right pair_count")

    # fully disjoint, well-separated counts -> all selected
    rows = [R("a", "b", 100), R("c", "d", 50), R("e", "f", 20)]
    assert _select_batch(rows, 8, top_k=32) == \
        [("a", "b", 100), ("c", "d", 50), ("e", "f", 20)]

    # (b,c) shares 'b' with (a,b): stop AT it, don't skip to (x,y)
    rows = [R("a", "b", 100), R("b", "c", 90), R("x", "y", 80)]
    assert _select_batch(rows, 8, top_k=32) == [("a", "b", 100)]

    # self-pair: (q,q) runs can create (qq,qq) pairs bounded by its own
    # count -> nothing after it is provably next
    rows = [R("q", "q", 100), R("x", "y", 99)]
    assert _select_batch(rows, 8, top_k=32) == [("q", "q", 100)]

    # created-pair bound: (z,a) count 60 means merging (a,b) can create
    # (z, ab) pairs with count up to 60 -> (c,d) at 50 is NOT provably
    # before them; (z,a) itself interacts so the batch stops there anyway
    rows = [R("a", "b", 100), R("z", "a", 60), R("c", "d", 50)]
    assert _select_batch(rows, 8, top_k=32) == [("a", "b", 100)]

    # cap respected
    rows = [R("a", "b", 9), R("c", "d", 8), R("e", "f", 7)]
    assert _select_batch(rows, 2, top_k=32) == [("a", "b", 9), ("c", "d", 8)]


def test_learn_bpe_batched_equals_sequential(spark):
    """batch_m > 1 is EXACT: the merge table is bit-identical to the
    sequential batch_m=1 walk (and to the pure-Python reference) on the
    tie/overlap corpus and on randomized corpora over a small alphabet
    (maximally interacting pairs — the worst case for batching)."""
    import random

    from akf_cdparser_spark.analytics.bpe import learn_bpe

    corpora = [[
        "low low low low low lower lower newest newest newest",
        "newest newest newest widest widest widest aaaa aaaa",
        "ab ab ba ba ba ab", "zzz zzz"]]
    rng = random.Random(42)
    for _ in range(2):
        corpora.append([
            " ".join("".join(rng.choice("abcd") for _ in
                             range(rng.randint(1, 7)))
                     for _ in range(30)) for _ in range(6)])

    for texts in corpora:
        rows = [(f"d{i}", t) for i, t in enumerate(texts)]
        docs = spark.createDataFrame(rows, "doc_id string, text string")
        expected, _ = _py_bpe(texts, 10)
        for m in (3, 8):
            got = [(r.step, r.left, r.right, r.pair_count)
                   for r in learn_bpe(docs, n_merges=10, batch_m=m)
                   .orderBy("step").collect()]
            assert got == expected, (m, texts)


def test_learn_bpe_batching_engages(spark):
    """On a disjoint-heavy corpus batch_m=8 must actually batch (fewer
    count-rounds than merges) — guarded by counting _select_batch calls."""
    from unittest import mock

    from akf_cdparser_spark.analytics import bpe

    texts = ["ab ab ab cd cd cd ef ef ef gh gh gh ij ij ij kl kl kl",
             "mn mn mn op op op qr qr qr st st st uv uv uv wx wx wx"]
    docs = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(texts)],
        "doc_id string, text string")
    calls = []
    orig = bpe._select_batch

    def spy(rows, max_m, top_k=None, merged_so_far=frozenset()):
        out = orig(rows, max_m, top_k=top_k, merged_so_far=merged_so_far)
        calls.append(len(out))
        return out

    with mock.patch.object(bpe, "_select_batch", side_effect=spy):
        merges = bpe.learn_bpe(docs, n_merges=8, batch_m=8).collect()
    assert len(merges) == 8
    assert len(calls) < 8          # fewer rounds than merges
    assert max(calls) > 1          # a batch actually carried >1 merge


def test_kmv_distinct_ignores_nulls(spark):
    """NULL column values are excluded from the sketch: md5(NULL) is a
    NULL hv that sorts first under NULLS FIRST and would displace a real
    hash from the k-sample (round-5 ADVICE). Exhaustive branch: the
    estimate equals the exact NON-NULL distinct count."""
    from akf_cdparser_spark.analytics.sketches import kmv_distinct

    df = spark.createDataFrame(
        [(x,) for x in ["a", "b", "c", None, None, "a"]], "v string")
    row = kmv_distinct(df, ["v"], k=16).head()
    assert row.n_kept == 3
    assert row.est_distinct == 3
    assert row.kth_hash is None


def test_semdedup_skew_guard_splits_oversized_clusters(spark):
    """Planted skew — 400 identical embeddings collapse k-means into ONE
    cluster. With max_cluster_size=50 the guard must split the pair scan
    into md5(vec_id) subcells (exactly the ceil(size/bound) the impl
    derives), keeping one survivor per subcell instead of running a
    400^2/2 self-join; a healthy small cluster rides the identical
    single-key path. Deterministic: two runs agree."""
    import hashlib
    import math

    from akf_cdparser_spark.analytics.clustering import semdedup

    n_skew = 400
    rows = [(i, [1.0, 0.5, -0.25, 2.0]) for i in range(n_skew)]
    rows += [(1000 + j, [-4.0 - j / 10.0, 3.0, -2.0, 1.0])
             for j in range(3)]  # small healthy cluster, far away
    docs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = {r.vec_id: r for r in semdedup(
        docs, k=2, n_iter=2, threshold=0.95,
        max_cluster_size=50).collect()}
    assert len(out) == n_skew + 3            # one verdict per vector

    skew_cluster = out[0].cluster_id
    assert all(out[i].cluster_id == skew_cluster for i in range(n_skew))
    splits = math.ceil(n_skew / 50)          # what the guard derives

    def bucket(vec_id):
        hv = int(hashlib.md5(str(vec_id).encode()).hexdigest()[:15], 16)
        return hv % splits

    # identical vectors: every subcell keeps exactly its keeper-order
    # winner -> survivors == one per NON-EMPTY subcell, and each is that
    # subcell's min vec_id (dists all tie, min id wins the keeper order)
    expected_kept = {min(v for v in range(n_skew) if bucket(v) == b)
                     for b in {bucket(v) for v in range(n_skew)}}
    got_kept = {v for v in range(n_skew) if out[v].is_kept}
    assert got_kept == expected_kept
    assert 1 < len(got_kept) <= splits       # split actually engaged

    again = {r.vec_id: r.is_kept for r in semdedup(
        docs, k=2, n_iter=2, threshold=0.95,
        max_cluster_size=50).collect()}
    assert again == {v: r.is_kept for v, r in out.items()}


def test_semdedup_default_k_is_sqrt_n(spark):
    """k=None derives ceil(sqrt(N)) clusters (the SemDeDup paper sizing)
    — on 30 vectors that is 6; the output must carry <= 6 distinct
    cluster ids and every vector gets a verdict."""
    import random

    from akf_cdparser_spark.analytics.clustering import semdedup

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(30)]
    docs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup(docs, threshold=0.99).collect()
    assert len(out) == 30
    assert len({r.cluster_id for r in out}) <= 6


def test_curate_quality_canonical_rescues_group(spark):
    """quality_canonical=True composes the q106 keeper rule into the
    curation pass: a fingerprint group whose MIN-id member fails the
    punct gate but whose higher-id member passes is DROPPED by the
    default rule (canonical fails the gate) yet SURVIVES via its passing
    member under the quality keeper order."""
    from akf_cdparser_spark.analytics import text as T

    words = "der die das und nicht mit"
    punct = ",.!?;:" * 3
    compact = words + punct                      # high punct ratio, fails
    spaced = words.replace(" ", " " * 30) + punct  # same fingerprint, passes
    docs = spark.createDataFrame(
        [(1, compact), (2, spaced)], "doc_id long, text string")

    q = {r.doc_id: r for r in T.quality_scores(docs).collect()}
    assert not q[1].quality_ok and q[2].quality_ok  # gate precondition

    default_kept = {r.doc_id for r in T.curate_training_mix(docs).collect()}
    assert default_kept == set()                 # min-id canonical fails
    quality_kept = {r.doc_id for r in T.curate_training_mix(
        docs, quality_canonical=True).collect()}
    assert quality_kept == {2}                   # best member rescues it


def test_curate_semantic_dedup_prepass(spark):
    """semantic_dedup routes the SemDeDup keep-list in ahead of the exact
    pass: of two identical embeddings the keeper-order loser's doc never
    reaches the output; the distinct doc and the keeper survive."""
    from akf_cdparser_spark.analytics import text as T

    docs = spark.createDataFrame(
        [(10, "der schnelle braune fuchs springt heute hier"),
         (11, "die alte graue katze schlaeft nicht gerne dort"),
         (12, "und das dritte dokument ist mit abstand anders")],
        "doc_id long, text string")
    emb = spark.createDataFrame(
        [(10, [1.0, 0.5, -0.25, 2.0]),
         (11, [1.0, 0.5, -0.25, 2.0]),        # identical to 10
         (12, [-4.0, 3.0, -2.0, 1.0])],
        "vec_id long, embedding array<float>")

    base_kept = {r.doc_id for r in T.curate_training_mix(docs).collect()}
    assert base_kept == {10, 11, 12}             # all pass without prepass

    kept = {r.doc_id for r in T.curate_training_mix(
        docs, semantic_dedup=emb, semdedup_k=2,
        semdedup_threshold=0.95).collect()}
    assert kept == {10, 12}  # identical pair ties on dist -> min id kept


def test_bm25_rank_matches_python_twin(spark):
    """bm25_rank vs an independent pure-Python fixed-point twin on a
    hand-sized corpus: every score value, the rank order, and the
    monotonicity you want from BM25 (higher tf of a rarer term wins;
    longer docs are penalized at equal tf)."""
    from akf_cdparser_spark.analytics import text as T

    rows = [
        (1, "apple banana apple cherry"),             # tf(apple)=2, dl=4
        (2, "apple banana banana banana"),            # tf(banana)=3, dl=4
        (3, "apple " + "filler " * 20 + "apple"),     # tf(apple)=2, dl=22
        (4, "cherry cherry"),                         # rare term only
        (5, "durian elderberry fig grape"),           # no query terms
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["apple", "cherry"]
    got = {r.doc_id: (r.n_terms, r.score_fp, r.rank)
           for r in T.bm25_rank(docs, terms, top_k=10).collect()}

    # independent twin: same fixed-point formulas, plain Python ints
    S = 1_000_000
    toks = {d: [t for t in txt.strip().lower().split() if t]
            for d, txt in rows}
    n_docs, total_dl = len(toks), sum(len(t) for t in toks.values())
    avgdl_fp = total_dl * S // n_docs
    want_terms = sorted(set(terms))
    df = {t: sum(1 for ts in toks.values() if t in ts) for t in want_terms}
    exp = {}
    for d, ts in toks.items():
        score, nt = 0, 0
        for t in want_terms:
            tf = ts.count(t)
            if not tf:
                continue
            nt += 1
            idf_fp = (2 * (n_docs - df[t]) + 1) * S // (2 * df[t] + 1)
            dlq_fp = len(ts) * S * S // avgdl_fp
            k_fp = 6 * (250000 + 3 * dlq_fp // 4) // 5
            tfn_fp = 11 * tf * S * S // (5 * (tf * S + k_fp))
            score += idf_fp * tfn_fp // S
        if nt:
            exp[d] = (nt, score)
    order = sorted(exp, key=lambda d: (-exp[d][1], d))
    expected = {d: (exp[d][0], exp[d][1], i + 1)
                for i, d in enumerate(order)}
    assert got == expected
    assert 5 not in got                       # no-match doc absent
    # length penalty: doc3 has the same tf(apple)=2 as doc1 but dl 22
    # vs 4, and no other matching term — it must score strictly lower
    assert got[3][1] < got[1][1]
    # tf monotonicity at equal dl: doc2 (apple tf=1, dl=4) scores below
    # doc1 whose apple tf=2 at the same length (doc1 also adds cherry)
    assert got[2][1] < got[1][1]


def test_bm25_index_path_bit_equals_corpus_path(spark, tmp_path):
    """The persisted-index BM25 probe returns bit-identical rows to the
    corpus-scan path (shared _bm25_score_tail + denormalized dl), and
    the probe's postings scan carries PartitionFilters on the token
    first-byte partition column — the O(terms)-partitions probe shape."""
    from akf_cdparser_spark.analytics import text as T

    rows = [("d%d" % i,
             " ".join(["apple"] * (i % 4) + ["cherry"] * (i % 3)
                      + ["filler"] * (i % 7) + ["banana"]))
            for i in range(1, 30)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    path = str(tmp_path / "bm25idx")
    T.write_bm25_index(docs, path)
    terms = ["apple", "cherry"]
    via_idx = T.bm25_rank_index(spark, path, terms, top_k=10)
    via_corpus = [tuple(r) for r in
                  T.bm25_rank(docs, terms, top_k=10).collect()]
    assert [tuple(r) for r in via_idx.collect()] == via_corpus
    assert len(via_corpus) == 10
    plan = via_idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [tkp" in plan and "IN (a,c)" in plan, plan


def test_pq_encode_shape_and_determinism(spark):
    """PQ encoding invariants: every vector gets exactly m_sub codes in
    [0, ks); codes are identical across two independent plans (the
    codebook is a pure function of the corpus, no RNG state)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    enc = similarity.pq_encode(emb, dim=64, m_sub=8, ks=16)
    rows = enc.select("vec_id", "codes").collect()
    assert rows and all(len(r.codes) == 8
                        and all(0 <= c < 16 for c in r.codes) for r in rows)
    again = {r.vec_id: r.codes for r in
             similarity.pq_encode(emb, dim=64, m_sub=8, ks=16)
             .select("vec_id", "codes").collect()}
    assert {r.vec_id: r.codes for r in rows} == again


def test_pq_recall_gate_and_rerank_lever(spark):
    """The PQ-ADC scale path (q110): 8x16 codes + exact rerank reach mean
    recall@5 >= 0.8 on the sf0.01 embeddings, and shrinking the rerank
    shortlist measurably loses recall (the rerank lever is real)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = [0, 7, 42, 99, 123]
    full = [r.recall for r in
            similarity.pq_recall_vs_bruteforce(emb, qids, k=5).collect()]
    assert len(full) == 5 and sum(full) / len(full) >= 0.8, full
    small = [r.recall for r in similarity.pq_recall_vs_bruteforce(
        emb, qids, k=5, rerank_r=10).collect()]
    assert sum(small) / len(small) < sum(full) / len(full)


def test_ivfpq_recall_matches_pinned_twin(spark):
    """The distributed IVF-PQ pipeline (q112) reproduces the pinned
    numpy twin value-for-value at sf0.01 — gating the coarse-quantizer
    mask, the PQ codes, the ADC shortlist, and the rerank in one shot."""
    from akf_cdparser_spark.plans import pinned

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    got = sorted((r.query_id, r.recall) for r in
                 similarity.ivfpq_recall_vs_bruteforce(
                     emb, [0, 7, 42, 99, 123], k=5).collect())
    assert got == sorted(pinned.Q112_EXPECTED)


def test_pq_adc_exact_on_clustered_data(spark):
    """On data WITH cluster structure (PQ's design case) the ADC + rerank
    pipeline reproduces the exact brute-force top-k: vectors are built
    from 4 well-separated prototypes per subspace half, so the sampled
    codebook captures the structure."""
    import hashlib as _h
    rows = []
    for i in range(60):
        proto = i % 4
        # four orthogonal block prototypes (distinct DIRECTIONS — scalar
        # multiples of one direction would collapse under the operator's
        # unit normalization) + tiny deterministic jitter
        base = [4.0 if j // 16 == proto else 0.0 for j in range(64)]
        jitter = [((int(_h.md5(f"{i}:{j}".encode()).hexdigest()[:4], 16)
                    / 65535.0) - 0.5) * 0.1 for j in range(64)]
        rows.append((i, [float(b + t) for b, t in zip(base, jitter)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [0, 1, 2, 3]
    rec = [r.recall for r in similarity.pq_recall_vs_bruteforce(
        emb, qids, k=5, rerank_r=20).collect()]
    assert sum(rec) / len(rec) >= 0.95, rec


def _bm25_fp_parts(tf, dl, df, n_docs, total_dl):
    """The exact integer formulas of bm25_rank/_bm25_score_tail, in
    plain Python — for property tests (no Spark)."""
    S = 1_000_000
    avgdl_fp = total_dl * S // n_docs
    idf_fp = (2 * (n_docs - df) + 1) * S // (2 * df + 1)
    dlq_fp = dl * S * S // avgdl_fp
    k_fp = 6 * (250000 + 3 * dlq_fp // 4) // 5
    tfn_fp = 11 * tf * S * S // (5 * (tf * S + k_fp))
    return idf_fp, tfn_fp, idf_fp * tfn_fp // S


def test_bm25_fixed_point_rank_preservation_properties():
    """The documented ln-free trade holds mechanically: idf_fp strictly
    decreases in df (same order as ln((N-df+.5)/(df+.5))); for a fixed
    term, the per-doc score is non-decreasing in tf and non-increasing
    in dl — randomized over wide integer ranges (hypothesis)."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.integers(2, 10**9), st.data())
    def idf_order(n_docs, data):
        df1 = data.draw(st.integers(1, n_docs - 1))
        df2 = data.draw(st.integers(1, n_docs - 1))
        i1 = _bm25_fp_parts(1, 100, df1, n_docs, 100 * n_docs)[0]
        i2 = _bm25_fp_parts(1, 100, df2, n_docs, 100 * n_docs)[0]
        l1 = math.log((n_docs - df1 + 0.5) / (df1 + 0.5))
        l2 = math.log((n_docs - df2 + 0.5) / (df2 + 0.5))
        if df1 != df2:
            assert (i1 > i2) == (l1 > l2)      # strictly monotone map

    @settings(max_examples=200, deadline=None)
    @given(st.integers(2, 10**6), st.integers(1, 10**5),
           st.integers(1, 8 * 10**5), st.integers(1, 9 * 10**6))
    def tf_dl_monotone(n_docs, df0, tf, dl):
        df = min(df0, n_docs - 1)
        total = max(dl, 50) * n_docs
        _, _, s = _bm25_fp_parts(tf, dl, df, n_docs, total)
        _, _, s_tf = _bm25_fp_parts(tf + 1, dl, df, n_docs, total)
        _, _, s_dl = _bm25_fp_parts(tf, dl + 50, df, n_docs, total)
        assert s_tf >= s and s_dl <= s

    idf_order()
    tf_dl_monotone()


def test_dhash_invariant_to_unsampled_pixels():
    """The sampled-grid dHash touches only the 9x8 sample points: a
    perturbation at any NON-sampled pixel leaves the hash bit-identical
    (the locality that makes jittered near-dups hash close)."""
    from akf_cdparser_spark.analytics import multimodal as mm

    payload, w, h = mm.synth_ppm("prop:base")      # w,h >= 9x8 not needed
    head = len(payload) - w * h * 3
    base = mm.dhash64(payload)
    xs = {c * w // 9 for c in range(9)}
    ys = {r * h // 8 for r in range(8)}
    changed = 0
    for y in range(h):
        for x in range(w):
            if x in xs and y in ys:
                continue                            # sampled: may flip
            buf = bytearray(payload)
            for ch in range(3):
                buf[head + (y * w + x) * 3 + ch] ^= 0x55
            if mm.dhash64(bytes(buf)) != base:
                changed += 1
    assert changed == 0
