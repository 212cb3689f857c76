"""Deduplication operators for the documents corpus: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design:
- exact dedup: hash-groupBy on md5(text) — one shuffle, map-side combine.
- n-gram Jaccard: candidate pairs come from an inverted shingle join (only
  docs sharing >=1 shingle ever meet — never the O(n^2) cross join), then the
  exact Jaccard is verified natively with array_intersect/array_union.
- MinHash+LSH: k min-hashes per doc computed fully JVM-side
  (transform + xxhash64 + array_min — no Python), banded, bucket-joined;
  candidates verified by exact Jaccard.  The LSH band join bounds candidate
  generation at 10^12-doc scale where even the shingle join would blow up.
- SimHash: 32-bit md5-derived word hashes, bitwise majority vote via
  explode + groupBy — SQL-expressible end to end (DuckDB md5 matches Spark's).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from changepoynt_spark.session import release


def exact_dup_groups(df: DataFrame, text_col: str = 'text') -> DataFrame:
    """(text_hash, n_dups, min_doc_id) for exact-duplicate groups (>1 doc)."""
    return (df.groupBy(F.md5(text_col).alias('text_hash'))
              .agg(F.count('*').alias('n_dups'), F.min('doc_id').alias('min_doc_id'))
              .filter(F.col('n_dups') > 1))


def shingles(df: DataFrame, n: int = 3, text_col: str = 'text') -> DataFrame:
    """Adds ``shingle_set``: distinct word n-gram strings per doc (JVM-side).

    Built from ``n`` BULK array slices zipped together (one struct access per
    gram element) instead of a per-position ``slice`` inside the lambda —
    higher-order functions are interpreted, not codegen'd, so allocating a
    fresh n-element array per position cost ~3x more eval time."""
    words = F.split(F.col(text_col), ' ')
    # clamp: docs shorter than n words are filtered below, but the
    # projection can be evaluated before the filter and slice() THROWS on a
    # negative length (the old sequence() form yielded empty instead)
    m = F.greatest(F.size(words) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(words, k + 1, m) for k in range(n)])
    grams = F.transform(zipped, lambda s: F.concat_ws(' ', *[s[str(k)] for k in range(n)]))
    return df.withColumn('shingle_set', F.array_distinct(grams)).filter(F.size(words) >= n)


def ngram_jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.5,
                        id_col: str = 'doc_id', *, df_cap: int) -> DataFrame:
    """(doc_a, doc_b, jaccard) for all pairs with Jaccard >= threshold.

    Candidates via an inverted shingle index: group the distinct shingles'
    postings by shingle and emit each posting list's doc_a < doc_b
    combinations.  Any pair with jaccard > 0 shares a shingle, so this
    finds the same set a cross join would — without the cross join.
    |A ∩ B| is the per-pair count of those combinations, so no shingle-set
    arrays ever cross a shuffle; |A ∪ B| = |A| + |B| - inter from
    broadcast per-doc counts.

    ``df_cap`` (required, >= 1): document-frequency ceiling on the inverted
    index.  A shingle shared by k docs builds k^2/2 pairs in ONE row — one
    boilerplate shingle on a 100 TB corpus runs an executor out of memory,
    so postings with df > df_cap are dropped BEFORE pairing (a stop-shingle
    filter; it can only undercount the intersection for pairs glued
    together by ubiquitous boilerplate).  The hot-shingle list is tiny by
    construction (only shingles in > df_cap docs), so it is found with a
    map-side-combined count and removed with a broadcast anti-join — no
    extra shuffle of the postings themselves.
    """
    if df_cap < 1:
        raise ValueError(f'df_cap must be >= 1, got {df_cap!r}')
    sh = shingles(df, n).select(F.col(id_col).alias('_id'), 'shingle_set')
    # hash shingle strings to 64-bit first: the exchange carries (id, int64)
    # instead of raw n-gram strings (distinct shingles -> no collisions
    # within a doc; xxhash64 cross-collisions are ~2^-64 per pair).
    # Materialized ONCE (r9): the doc-frequency pass, the per-doc set-size
    # counts and the posting-list aggregation below all read these skinny
    # postings — without the checkpoint each one re-ran the text scan and
    # the shingling CPU (guide §1.2: don't compute things three times).
    # The materialization is the same order of bytes the posting exchange
    # already spills to shuffle disk.
    inv = (sh.select('_id', F.explode('shingle_set').alias('_s'))
             .select('_id', F.xxhash64('_s').alias('_sh'))
             .localCheckpoint(eager=True))
    # per-doc distinct-shingle counts (== size(shingle_set): the postings
    # are one row per distinct shingle) — map-side combined, BEFORE df_cap
    # (the union denominator uses full set sizes)
    counts = inv.groupBy('_id').agg(F.count('*').alias('_n'))
    hot = (inv.groupBy('_sh').agg(F.count('*').alias('_df'))
              .filter(F.col('_df') > df_cap).select('_sh'))
    inv = inv.join(F.broadcast(hot), '_sh', 'left_anti')
    # candidate pairs from per-shingle POSTING LISTS (r9): group the
    # postings by shingle and emit each list's a<b combinations from one
    # explode — the same pair multiset the a/b self-join produced, without
    # sorting and merging the posting exchange twice (guide §3: the join
    # only ever matched rows inside one shingle group; a group-local
    # combination needs no join at all).  List sizes are BOUNDED by the
    # df_cap stop-shingle filter above, so the collected arrays are ≤
    # df_cap elements even on a 100 TB corpus.
    posts = (inv.groupBy('_sh')
                .agg(F.sort_array(F.collect_list('_id')).alias('_ids'))
                .filter(F.size('_ids') >= 2))
    arr = F.col('_ids')
    pair_arr = F.flatten(F.transform(
        arr, lambda x, i: F.transform(
            F.slice(arr, i + F.lit(2), F.size(arr) - i - 1),
            lambda y: F.struct(x.alias('doc_a'), y.alias('doc_b')))))
    inter = (posts.select(F.explode(pair_arr).alias('p'))
                  .groupBy(F.col('p.doc_a').alias('doc_a'),
                           F.col('p.doc_b').alias('doc_b'))
                  .agg(F.count('*').alias('_inter')))
    ca = counts.select(F.col('_id').alias('doc_a'), F.col('_n').alias('_na'))
    cb = counts.select(F.col('_id').alias('doc_b'), F.col('_n').alias('_nb'))
    joined = inter.join(F.broadcast(ca), 'doc_a').join(F.broadcast(cb), 'doc_b')
    jac = F.round(F.col('_inter') / (F.col('_na') + F.col('_nb') - F.col('_inter')), 6)
    return (joined.withColumn('jaccard', jac)
                  .filter(F.col('jaccard') >= threshold)
                  .select('doc_a', 'doc_b', 'jaccard'))


def minhash_signatures(df: DataFrame, num_hashes: int = 32, n: int = 3,
                       id_col: str = 'doc_id') -> DataFrame:
    """(id, signature array<bigint>) — k min-hashes over distinct shingles,
    all native expressions.  The (variable-length) shingle strings are
    hashed to int64 ONCE; the k family members rehash that fixed-width
    value with the hash index (min(xxhash64(xxhash64(s), i))) — k string
    scans replaced by k int64 mixes."""
    sh = shingles(df, n)
    hs = F.transform('shingle_set', lambda s: F.xxhash64(s))
    sig = F.array(*[
        F.array_min(F.transform(hs, lambda h: F.xxhash64(h, F.lit(i))))
        for i in range(num_hashes)])
    return sh.select(F.col(id_col).alias('doc_id'), 'shingle_set',
                     sig.alias('signature'))


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 32, bands: int = 8, n: int = 3,
                      threshold: float = 0.5, id_col: str = 'doc_id',
                      materialize: bool = True) -> DataFrame:
    """(doc_a, doc_b, jaccard) near-dup pairs via banded MinHash LSH with
    exact Jaccard verification of candidates.

    ``materialize=False`` skips the eager localCheckpoints (used by plan-
    inspection tests; production callers keep the default)."""
    if num_hashes % bands:
        raise ValueError(f'num_hashes ({num_hashes}) must be a multiple of '
                         f'bands ({bands})')
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, num_hashes, n, id_col)
    band_hash = F.explode(F.array(*[
        F.struct(F.lit(b).alias('band'),
                 F.xxhash64(F.concat_ws(',', *[
                     F.col('signature')[b * rows_per_band + r].cast('string')
                     for r in range(rows_per_band)])).alias('bh'))
        for b in range(bands)]))
    # the band join moves ONLY (doc_id, band, bh): the shingle arrays would
    # otherwise ride the exchange `bands` times each.  They are re-attached
    # to the (far smaller) candidate pair set for the exact-Jaccard verify.
    # materialized before the self-join so the shingle+minhash subtree is
    # computed ONCE regardless of ReuseExchange hits (same reasoning as
    # simhash_dup_pairs above); rows are (id, band, int64) only
    buckets = (sigs.select('doc_id', band_hash.alias('bb'))
                   .select('doc_id', 'bb.band', 'bb.bh'))
    if materialize:
        buckets = buckets.localCheckpoint(eager=True)
    cands = (buckets.alias('a').join(
                buckets.alias('b'),
                (F.col('a.band') == F.col('b.band')) & (F.col('a.bh') == F.col('b.bh')) &
                (F.col('a.doc_id') < F.col('b.doc_id')))
             .select(F.col('a.doc_id').alias('doc_a'), F.col('b.doc_id').alias('doc_b'))
             .dropDuplicates(['doc_a', 'doc_b']))
    if materialize:
        cands = cands.localCheckpoint(eager=True)
    # verify stage re-shingles ONLY the candidate docs: a broadcast semi-join
    # on the (small, threshold-pruned) candidate id set pushes the filter
    # below the shingle projection, so the corpus is not re-shingled
    cand_ids = (cands.select(F.col('doc_a').alias(id_col))
                     .unionByName(cands.select(F.col('doc_b').alias(id_col)))
                     .distinct())
    sets = shingles(df.join(F.broadcast(cand_ids), id_col, 'left_semi'), n) \
        .select(F.col(id_col).alias('doc_id'), 'shingle_set')
    cands = (cands
             .join(sets.select(F.col('doc_id').alias('doc_a'),
                               F.col('shingle_set').alias('_sa')), 'doc_a')
             .join(sets.select(F.col('doc_id').alias('doc_b'),
                               F.col('shingle_set').alias('_sb')), 'doc_b'))
    inter = F.size(F.array_intersect('_sa', '_sb'))
    union = F.size(F.array_union('_sa', '_sb'))
    return (cands.withColumn('jaccard', F.round(inter / union, 6))
                 .filter(F.col('jaccard') >= threshold)
                 .select('doc_a', 'doc_b', 'jaccard'))


def dup_clusters(pairs: DataFrame, id_a: str = 'doc_a', id_b: str = 'doc_b',
                 max_iterations: int = 50) -> DataFrame:
    """(doc_id, cluster_id) — connected components over a near-duplicate
    pair graph; cluster_id = the smallest doc id reachable from the doc
    (the canonical representative a dedup pipeline keeps).

    Iterative min-label propagation: each round every node takes the
    minimum label among itself and its neighbors; rounds needed = graph
    diameter (near-dup clusters are shallow, so a handful).  Each round is
    one join + one groupBy — the standard shuffle-bounded CC pattern at
    corpus scale (GraphFrames' algorithm is the same shape).  Labels are
    cached per round and the loop exits on a fixpoint (count of changed
    labels = 0).
    """
    edges = pairs.select(F.col(id_a).alias('src'), F.col(id_b).alias('dst'))
    edges = edges.unionByName(
        edges.select(F.col('dst').alias('src'), F.col('src').alias('dst'))) \
        .distinct().cache()
    # localCheckpoint per round: iterative joins otherwise UNROLL into the
    # result's lineage (round-N plan contains all N rounds of joins — plan
    # depth and re-optimization cost grow linearly; the classic iterative-
    # algorithm pitfall).  Checkpointing truncates lineage so every round's
    # plan is exactly one join + one groupBy.
    labels = ckpt = edges.select(F.col('src').alias('node')).distinct() \
        .withColumn('label', F.col('node')).localCheckpoint(eager=True)
    try:
        for _ in range(max_iterations):
            prop = (edges.join(labels, edges.src == labels.node)
                         .groupBy(F.col('dst').alias('node2'))
                         .agg(F.min('label').alias('nlabel')))
            # the changed-flag rides the propagation join, so the fixpoint
            # check is a cheap scan of the already-materialized checkpoint —
            # not an extra labels-vs-labels join per round
            nlabel = F.least('label', F.coalesce('nlabel', 'label'))
            new = (labels.join(prop, labels.node == prop.node2, 'left')
                         .select('node', nlabel.alias('label'),
                                 (nlabel != F.col('label')).alias('_changed'))
                   ).localCheckpoint(eager=True)
            changed = new.filter('_changed').count()
            # the eager checkpoint no longer reads the previous round's
            # blocks: free them (unpersist alone frees nothing here)
            release(ckpt)
            ckpt, labels = new, new.drop('_changed')
            if changed == 0:
                break
        else:
            # Returning non-fixpoint labels would hand downstream dedup WRONG
            # cluster ids with no signal (a chain with diameter >
            # max_iterations would keep the wrong representatives) — fail
            # loudly instead.
            raise RuntimeError(
                f'dup_clusters did not converge within {max_iterations} '
                f'rounds ({changed} labels still changing); raise '
                'max_iterations — rounds needed equal the duplicate-graph '
                'diameter')
    except BaseException:
        release(ckpt)
        raise
    finally:
        edges.unpersist()
    return labels.select(F.col('node').alias('doc_id'),
                         F.col('label').alias('cluster_id'))


def dedupe_corpus(df: DataFrame, threshold: float = 0.5, n: int = 3,
                  num_hashes: int = 32, bands: int = 8,
                  id_col: str = 'doc_id', text_col: str = 'text') -> DataFrame:
    """End-to-end corpus dedup: exact (md5, keep smallest id per text) then
    near-dup (MinHash+LSH candidates, exact-Jaccard verify at ``threshold``,
    connected-component clustering, keep each cluster's representative).
    Returns the surviving rows with the input schema — the composition the
    spark-submit job (jobs/dedup_job.py) runs."""
    keep_exact = (df.groupBy(F.md5(text_col).alias('_h'))
                    .agg(F.min(id_col).alias(id_col)))
    exact_survivors = df.join(keep_exact.select(id_col), id_col, 'left_semi')
    pairs = minhash_lsh_pairs(exact_survivors, num_hashes=num_hashes, bands=bands,
                              n=n, threshold=threshold, id_col=id_col)
    clusters = dup_clusters(pairs)
    drop_near = clusters.filter(F.col('doc_id') != F.col('cluster_id')) \
                        .select(F.col('doc_id').alias(id_col))
    return exact_survivors.join(drop_near, id_col, 'left_anti')


def simhash(df: DataFrame, id_col: str = 'doc_id', text_col: str = 'text',
            bits: int = 32) -> DataFrame:
    """(doc_id, simhash) — bitwise majority vote over md5-derived word
    hashes.  Pure SQL (explode + groupBy), reproducible in DuckDB since both
    engines agree on md5(hex).

    ``bits`` up to 64: word hashes are assembled from two 32-bit md5 halves
    (a direct 64-bit decimal parse would overflow ANSI BIGINT), and the
    reconstruction uses shifts, not 2^b literals, so bit 63 (the sign bit of
    the long BIT PATTERN) is representable — the 64-bit form is what a
    100 TB corpus needs for simhash banding (9-10 bit segments instead of
    4-5)."""
    if not 1 <= bits <= 64:
        raise ValueError(f'bits must be in [1, 64], got {bits}')
    words = df.select(F.col(id_col).alias('doc_id'),
                      F.explode(F.split(text_col, ' ')).alias('w'))
    # first 8 hex chars of md5 -> 32-bit unsigned int (low half); chars 9-16
    # supply the high half when bits > 32
    lo = F.conv(F.substring(F.md5('w'), 1, 8), 16, 10).cast('long')
    if bits > 32:
        hi = F.conv(F.substring(F.md5('w'), 9, 8), 16, 10).cast('long')
        h = F.shiftleft(hi, 32).bitwiseOR(lo)
    else:
        h = lo
    words = words.withColumn('h', h)
    # per-bit SET counts (plus one row count) instead of ±1 CASE votes: the
    # majority test vote_b > 0 is exactly 2*cnt_b > n, and the plain
    # sum((h>>b)&1) halves the generated aggregate code — with 64 bits the
    # ±1 CASE form's whole-stage codegen was the dominant driver-side cost
    votes = [F.sum(F.shiftrightunsigned(F.col('h'), b)
                    .bitwiseAND(F.lit(1))).alias(f'b{b}')
             for b in range(bits)]
    agg = words.groupBy('doc_id').agg(F.count(F.lit(1)).alias('_n'), *votes)
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f'b{b}') * 2 > F.col('_n'),
                     F.shiftleft(F.lit(1).cast('long'), b)).otherwise(F.lit(0).cast('long'))
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return agg.select('doc_id', sim.alias('simhash'))


def simhash_dup_pairs(df: DataFrame, max_hamming: int = 3, bits: int = 32,
                      materialize: bool = True) -> DataFrame:
    """(doc_a, doc_b, hamming) — SimHash near-dup pairs with GUARANTEED recall.

    Candidate pruning by the multi-index pigeonhole scheme (Manku et al.,
    WWW'07): split the ``bits``-bit simhash into ``max_hamming + 1`` disjoint
    bit segments.  Two hashes within hamming distance ``max_hamming`` differ
    in at most ``max_hamming`` segments, so at least one segment is IDENTICAL
    — joining on (segment index, segment value) and verifying the exact
    hamming distance finds every qualifying pair (recall 1.0, asserted
    exhaustively in tests/test_similarity_text.py).

    Scale note: segment width is bits/(max_hamming+1); bucket count per band
    is 2^width.  At 32 bits / hamming 6 that is 4-5 bit segments (16-32
    buckets) — fine at test scale but k^2-per-bucket at 10^9 docs.  At 100 TB
    use a 64-bit simhash (9-bit segments, 512 buckets/band) or two-stage
    blocks; the banding below is width-generic.
    """
    # Materialize the signature table before the self-join: both join sides
    # embed the explode+64-column vote aggregation subtree — ReuseExchange
    # usually dedups the identical sides within one query, but the guarantee
    # is plan-shape-fragile, and ANY consumer composing this operator into a
    # larger query (dedupe_corpus runs it next to the LSH pass) pays the
    # recompute on a reuse miss.  The checkpointed table is (id, int64)
    # only, ~16 bytes/row at any scale.
    sh = simhash(df, bits=bits)
    if materialize:
        sh = sh.localCheckpoint(eager=True)
    n_bands = max_hamming + 1
    base_w, extra = divmod(bits, n_bands)
    # first `extra` bands get one extra bit; offsets tile [0, bits)
    segs, off = [], 0
    for b in range(n_bands):
        w = base_w + (1 if b < extra else 0)
        seg = F.shiftrightunsigned(F.col('simhash'), off).bitwiseAND(F.lit((1 << w) - 1))
        segs.append(F.struct(F.lit(b).alias('band'), seg.alias('seg')))
        off += w
    buckets = (sh.select('doc_id', 'simhash', F.explode(F.array(*segs)).alias('bb'))
                 .select('doc_id', 'simhash', 'bb.band', 'bb.seg'))
    cands = (buckets.alias('a').join(
                buckets.alias('b'),
                (F.col('a.band') == F.col('b.band')) & (F.col('a.seg') == F.col('b.seg')) &
                (F.col('a.doc_id') < F.col('b.doc_id')))
             .select(F.col('a.doc_id').alias('doc_a'), F.col('a.simhash').alias('_ha'),
                     F.col('b.doc_id').alias('doc_b'), F.col('b.simhash').alias('_hb'))
             .dropDuplicates(['doc_a', 'doc_b']))
    hamming = F.bit_count(F.col('_ha').bitwiseXOR(F.col('_hb')))
    return (cands.withColumn('hamming', hamming)
                 .filter(F.col('hamming') <= max_hamming)
                 .select('doc_a', 'doc_b', 'hamming'))


def passage_hashes(df: DataFrame, n: int = 10, stride: int = 1,
                   id_col: str = 'doc_id', text_col: str = 'text') -> DataFrame:
    """(id, passage_hash) — one row per n-word sliding window (every
    ``stride``-th start position), hashed to a 60-bit int BEFORE any shuffle.

    The window strings are built with the same bulk zipped-slices trick as
    :func:`shingles` (n array slices zipped, one concat per position — no
    per-position ``slice`` call inside an interpreted lambda), then reduced
    to ``conv(substring(md5, 1, 15), 16, 10)`` so only (int64, int64) rows
    ever ride the exchange — at 10^12-doc scale the exploded postings table
    is ~corpus-token-sized and must not carry the passage strings.

    ``stride`` trades exactness for postings volume: stride=s cuts postings
    s× but only guarantees detection of repeats aligned within s-1 words
    (two docs sharing an n-word passage still collide when n >= 2*s - 1 at
    some window, since both sample every s-th start).
    """
    if n < 1 or stride < 1:
        raise ValueError('n and stride must be >= 1')
    words = F.split(F.col(text_col), ' ')
    # slice() throws on negative length — clamp like shingles() does
    m = F.greatest(F.size(words) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(words, k + 1, m) for k in range(n)])
    grams = F.transform(zipped, lambda s: F.concat_ws(' ', *[s[str(k)] for k in range(n)]))
    if stride > 1:
        grams = F.filter(grams, lambda _, i: i % stride == 0)
    hashes = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast('long'))
    return (df.filter(F.size(words) >= n)
              .select(F.col(id_col).alias(id_col), F.explode(hashes).alias('passage_hash')))


def repeated_passages(df: DataFrame, n: int = 10, stride: int = 1, min_docs: int = 2,
                      id_col: str = 'doc_id', text_col: str = 'text') -> DataFrame:
    """Cross-document repeated n-word passages (exact substring dedup a la
    the 'Deduplicating Training Data Makes Language Models Better' recipe,
    word-window variant).

    Returns (passage_hash, n_docs, n_occurrences, min_doc_id) for every
    passage appearing in >= min_docs DISTINCT documents.  One explode + one
    groupBy: count-distinct is Spark's standard two-phase partial aggregate
    and the postings are (int64, int64) pairs, so the single shuffle is
    bounded by total corpus tokens / stride — no pairwise join anywhere.
    """
    return (passage_hashes(df, n=n, stride=stride, id_col=id_col, text_col=text_col)
            .groupBy('passage_hash')
            .agg(F.countDistinct(id_col).alias('n_docs'),
                 F.count('*').alias('n_occurrences'),
                 F.min(id_col).alias('min_doc_id'))
            .filter(F.col('n_docs') >= min_docs))


def passage_postings(df: DataFrame, n: int = 10, id_col: str = 'doc_id',
                     text_col: str = 'text') -> DataFrame:
    """(doc_id, start_pos, passage_hash) — every n-word window WITH its
    1-based word start position (the positional variant of
    :func:`passage_hashes`, same md5-60-bit hash formula so the two
    operators' hashes are join-compatible)."""
    if n < 1:
        raise ValueError('n must be >= 1')
    words = F.split(F.col(text_col), ' ')
    m = F.greatest(F.size(words) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(words, k + 1, m) for k in range(n)])
    grams = F.transform(zipped, lambda s: F.concat_ws(' ', *[s[str(k)] for k in range(n)]))
    hashes = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast('long'))
    return (df.filter(F.size(words) >= n)
              .select(F.col(id_col).alias(id_col),
                      F.posexplode(hashes).alias('pos0', 'passage_hash'))
              .select(id_col, (F.col('pos0') + 1).alias('start_pos'),
                      'passage_hash'))


def dedup_ranges(df: DataFrame, n: int = 10, min_docs: int = 2,
                 id_col: str = 'doc_id', text_col: str = 'text') -> DataFrame:
    """MAXIMAL cross-document duplicated word ranges per document — the
    exact-substring dedup modality of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), realized as the window-
    hash + island-merge composition instead of a monolithic suffix array:
    a position is covered iff some n-word window containing it appears in
    >= ``min_docs`` DISTINCT documents; maximal runs of covered positions
    are the ranges.  Any duplicated span of length L >= n is recovered with
    its EXACT boundaries (all L-n+1 of its windows are duplicated, and
    their interval union is precisely [span_start, span_end]); spans
    shorter than n are below the resolution floor, exactly like the
    suffix-array method's minimum match length.

    Scale shape (the suffix-array equivalent a single machine builds is
    impossible at 100 TB; this is the shuffle-bounded form):
    - postings (passage_hash int64, start_pos int64, doc) ride ONE exchange
      keyed by hash for the dup filter — count-distinct is Spark's standard
      two-phase partial aggregate, and the duplicated-hash set joins back
      as an ids-only semi join (AQE broadcasts it when small).  No self-
      join anywhere: a boilerplate passage shared by k docs costs k posting
      rows, never k^2 pair rows, so no df_cap is needed (unlike
      ngram_jaccard_pairs the output is per-DOC ranges, not per-PAIR).
    - island merge is ONE exchange keyed by doc + a partition-local window
      (running max of interval end, gaps-and-islands), group sizes bounded
      by document length.

    Output: (doc_id, range_start, range_end, n_positions, n_windows), word
    positions 1-based inclusive.  n_windows counts the duplicated windows
    merged into the range (= n_positions - n + 1 when coverage is solid).

    Reference:  the reference repo has no corpus operators; provenance is
    the paper + operators/dedup.py's repeated_passages (same hash formula).
    """
    if min_docs < 2:
        raise ValueError('min_docs must be >= 2 (cross-document ranges)')
    # materialized once (r9): the dup-hash aggregate AND the semi join both
    # consume the postings — without the checkpoint the window-hashing scan
    # (10 md5s per position over the whole corpus) ran twice, since the
    # broadcast semi join gives ReuseExchange nothing to dedup
    postings = passage_postings(df, n=n, id_col=id_col, text_col=text_col) \
        .localCheckpoint(eager=True)
    dup_hashes = (postings.groupBy('passage_hash')
                          .agg(F.countDistinct(id_col).alias('_nd'))
                          .filter(F.col('_nd') >= min_docs)
                          .select('passage_hash'))
    hits = (postings.join(dup_hashes, 'passage_hash', 'left_semi')
                    .select(id_col, F.col('start_pos').alias('s'),
                            (F.col('start_pos') + n - 1).alias('e')))
    return _coverage_islands(hits, id_col)


def _coverage_islands(hits: DataFrame, id_col: str) -> DataFrame:
    """Merge per-doc window intervals ``(id, s, e)`` into MAXIMAL covered
    ranges (gaps-and-islands): a window starts a new island iff its start
    exceeds the running max end of all earlier windows + 1 (adjacent
    coverage [s,e],[e+1,...] merges — covered positions are contiguous).
    One exchange keyed by doc + a partition-local window; group sizes
    bounded by document length.  Shared by :func:`dedup_ranges` (within-
    corpus) and :func:`decontaminate_ranges` (corpus-vs-benchmark)."""
    from pyspark.sql import Window

    by_doc = Window.partitionBy(id_col).orderBy('s')
    prev_max = F.max('e').over(by_doc.rowsBetween(Window.unboundedPreceding, -1))
    flagged = hits.withColumn(
        '_new', F.when(prev_max.isNull() | (F.col('s') > prev_max + 1), 1)
                 .otherwise(0))
    islands = flagged.withColumn(
        '_isl', F.sum('_new').over(by_doc.rowsBetween(Window.unboundedPreceding, 0)))
    return (islands.groupBy(id_col, '_isl')
                   .agg(F.min('s').alias('range_start'),
                        F.max('e').alias('range_end'),
                        F.count('*').alias('n_windows'))
                   .select(id_col,
                           F.col('range_start').cast('long').alias('range_start'),
                           F.col('range_end').cast('long').alias('range_end'),
                           (F.col('range_end') - F.col('range_start') + 1)
                           .cast('long').alias('n_positions'),
                           F.col('n_windows').cast('long').alias('n_windows')))


def decontaminate_ranges(df: DataFrame, benchmark: DataFrame, n: int = 10,
                         id_col: str = 'doc_id', text_col: str = 'text',
                         bench_text_col: str = 'text') -> DataFrame:
    """MAXIMAL word ranges of corpus documents that appear VERBATIM in a
    benchmark set — exact-substring DECONTAMINATION (the train/test-overlap
    variant of Lee et al. 2022's exact-substring dedup, the recipe used to
    scrub eval benchmarks out of pretraining corpora): a corpus position is
    contaminated iff some n-word window containing it also occurs in ANY
    benchmark document.  Same resolution floor as :func:`dedup_ranges`
    (spans >= n words are recovered with exact boundaries); emitting
    per-doc RANGES lets the caller excise or drop precisely the leaked
    spans instead of whole documents.

    Scale shape: corpus postings ride one exchange; the benchmark's
    DISTINCT window-hash set is tiny relative to a 100 TB corpus (eval
    suites are MBs) and is BROADCAST into an ids-only left-semi join — no
    shuffle of the corpus against the benchmark, no pair blow-up (k
    contaminated windows cost k posting rows).  Island merge is the shared
    per-doc gaps-and-islands pass.

    Output: (doc_id, range_start, range_end, n_positions, n_windows),
    word positions 1-based inclusive.

    Reference: the reference repo has no corpus operators; provenance is
    Lee et al. 2022 + the shared window-hash formula of
    :func:`passage_postings`."""
    postings = passage_postings(df, n=n, id_col=id_col, text_col=text_col)
    bench_hashes = (passage_postings(
        benchmark.select(F.lit('_b').alias(id_col),
                         F.col(bench_text_col).alias(text_col)),
        n=n, id_col=id_col, text_col=text_col)
        .select('passage_hash').distinct())
    hits = (postings.join(F.broadcast(bench_hashes), 'passage_hash',
                          'left_semi')
                    .select(id_col, F.col('start_pos').alias('s'),
                            (F.col('start_pos') + n - 1).alias('e')))
    return _coverage_islands(hits, id_col)


def excise_ranges(df: DataFrame, ranges: DataFrame, id_col: str = 'doc_id',
                  text_col: str = 'text') -> DataFrame:
    """Scrub step of exact-substring decontamination: remove the words
    covered by ``ranges`` (the :func:`decontaminate_ranges` /
    :func:`dedup_ranges` output shape — 1-based inclusive word positions)
    from each document and reassemble the text.  Documents with no range
    pass through unchanged; the non-leaked words keep their relative
    order, which is why range EXCISION beats whole-doc dropping — a
    100-word benchmark leak in a 100k-word document costs 0.1% of the
    data, not the document.

    Plan shape: ranges aggregate to ONE array per contaminated doc, join
    back on the id (the ranges side is tiny relative to the corpus — AQE
    broadcasts it), and the excision itself is a map-only higher-order-
    function pass (transform + filter + array_join), no Python, no
    explode.

    Output: (id, clean_text, n_words_removed, n_ranges)."""
    per_doc = (ranges.groupBy(id_col)
                     .agg(F.collect_list(
                              F.struct('range_start', 'range_end'))
                          .alias('_rs'),
                          F.sum('n_positions').alias('_rm'),
                          F.count('*').alias('_nr')))
    words = F.split(F.col(text_col), ' ')
    indexed = F.transform(words, lambda w, i: F.struct(
        w.alias('w'), (i + 1).cast('long').alias('p')))
    kept = F.filter(indexed, lambda s: ~F.exists(
        F.col('_rs'), lambda r: (s['p'] >= r['range_start'])
                                & (s['p'] <= r['range_end'])))
    return (df.join(per_doc, id_col, 'left')
              .select(id_col,
                      F.when(F.col('_rs').isNull(), F.col(text_col))
                       .otherwise(F.array_join(
                           F.transform(kept, lambda s: s['w']), ' '))
                       .alias('clean_text'),
                      F.coalesce(F.col('_rm'), F.lit(0)).cast('long')
                       .alias('n_words_removed'),
                      F.coalesce(F.col('_nr'), F.lit(0)).cast('long')
                       .alias('n_ranges')))


def dup_clusters_star(pairs: DataFrame, id_a: str = 'doc_a', id_b: str = 'doc_b',
                      max_iterations: int = 30) -> DataFrame:
    """(doc_id, cluster_id) — connected components via alternating
    large-star / small-star rounds (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC 2014): converges in O(log^2 n) rounds on
    ANY graph, where min-label propagation needs diameter rounds — the
    scale path for duplicate graphs with long chains (e.g. drifting
    near-dup chains a->b->c->... from incremental crawls).

    Each round is two groupBys over the edge list:
    - large-star: every node links its LARGER neighbors to the minimum of
      its neighborhood (incl. itself),
    - small-star: every node links its smaller-or-equal neighbors to that
      minimum.
    Edges monotonically contract toward (node, component-min) stars; the
    fixpoint is detected when the edge multiset stops changing (checked via
    count + per-round hash).  Same output contract as dup_clusters.
    """
    e = pairs.select(F.col(id_a).alias('u'), F.col(id_b).alias('v'))
    # symmetrize, drop self loops
    edges = (e.unionByName(e.select(F.col('v').alias('u'), F.col('u').alias('v')))
              .filter('u <> v').distinct().localCheckpoint(eager=True))

    def _star(edges, large: bool):
        # neighborhood min per u over N(u) ∪ {u}
        m = (edges.groupBy('u')
                  .agg(F.least(F.min('v'), F.first('u')).alias('m')))
        j = edges.join(m, 'u')
        cond = F.col('v') > F.col('u') if large else F.col('v') <= F.col('u')
        out = (j.filter(cond)
                .select(F.col('v').alias('u'), F.col('m').alias('v'))
                .filter('u <> v'))
        if not large:
            # small-star also links u ITSELF to its neighborhood min —
            # without it a fully-contracted star loses its spokes
            out = out.unionByName(m.select('u', F.col('m').alias('v'))
                                   .filter('u <> v'))
        sym = out.unionByName(
            out.select(F.col('v').alias('u'), F.col('u').alias('v')))
        return sym.distinct()

    def _sig(edges):
        # bit_xor: order-independent and cannot overflow under ANSI mode
        row = edges.agg(F.count('*').alias('n'),
                        F.expr('bit_xor(xxhash64(u, v))').alias('h')).first()
        return (row['n'], row['h'])

    try:
        sig = _sig(edges)
        for _ in range(max_iterations):
            # one materialization per DOUBLE-round (r9): the large-star
            # intermediate stays a plan subtree — its distinct() exchange is
            # deduped by ReuseExchange across the small-star's two
            # consumers — so each double-round costs one job instead of two,
            # and the checkpoint still truncates the plan every round
            new = _star(_star(edges, large=True), large=False) \
                .localCheckpoint(eager=True)
            release(edges)
            edges = new
            new_sig = _sig(edges)
            if new_sig == sig:
                break
            sig = new_sig
        else:
            raise RuntimeError(
                f'dup_clusters_star did not converge within {max_iterations} '
                'double-rounds — raise max_iterations')
    except BaseException:
        release(edges)
        raise
    # at the fixpoint every edge is (node, component_min) or its mirror;
    # keep the min-side as the label and add singleton-free node set
    labels = (edges.filter('v < u')
                   .groupBy(F.col('u').alias('doc_id'))
                   .agg(F.min('v').alias('cluster_id')))
    mins = (edges.select(F.col('v').alias('doc_id'))
                 .subtract(labels.select('doc_id'))
                 .withColumn('cluster_id', F.col('doc_id')).distinct())
    return labels.unionByName(mins)
