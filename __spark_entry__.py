"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship pipeline on sf0.001 (events -> series -> SST-ika
                  scores -> 1m rollup).
queries()      -> one callable per implemented operator (SURVEY.md §2 + the
                  training-data-pipeline extensions).
oracle_sql()   -> equivalent DuckDB SQL for every SQL-expressible query
                  (identical column aliases).  Kernel queries (SST/ESST/
                  BOCPD/RuLSIF/FLUSS, LSH, language-ID, fingerprints,
                  multimodal) are rows-only here and bit-golden-checked
                  against the numpy oracle in tests/ instead.

Cross-engine float discipline: every aggregate that sums many doubles is
either computed in DECIMAL (exact, engine-independent) or rounded at a digit
where double-accumulation-order noise cannot flip the rounding.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = ('region', 'nation', 'customer', 'supplier', 'part', 'orders', 'lineitem',
          'events', 'documents', 'embeddings')


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f'{sf_dir}/{name}.parquet')


def _read_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read + spread across the cores for CPU-heavy per-row work (shingling,
    min-hashing, Python kernels).  The test parquet files are single-split,
    so without this the whole map stage runs as one task; at cluster scale
    scans carry >= cores splits and the repartition below is skipped."""
    df = _read(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df


def _register(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        _read(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """events -> per-user token series -> SST (IKA) change scores ->
    1-minute rollup tier, on sf0.001."""
    from changepoynt_spark.functions.series import events_to_series
    from changepoynt_spark.operators.rollup import attach_timestamps, rollup_cascade
    from changepoynt_spark.operators.scoring import explode_scores, score_series

    events = _read(spark, '/root/testdata/sf0.001', 'events')
    series = events_to_series(events)
    scored = score_series(series, algorithm='sst',
                          params={'window_length': 10, 'n_windows': 10, 'lag': 3,
                                  'rank': 2, 'method': 'ika'})
    long = attach_timestamps(explode_scores(scored)).withColumnRenamed('score', 'value')
    tiers = rollup_cascade(long, keys=['doc_id'], ts_col='ts', value_col='value',
                           tiers=('1m',))
    t = tiers['1m']
    return t.select('doc_id', 'bucket_start', 'cnt_points',
                    F.round('sum_value', 6).alias('sum_value'),
                    F.round('avg_value', 6).alias('avg_value'))


# ---------------------------------------------------------------------------
# shared SQL (runs verbatim on BOTH Spark SQL and DuckDB)
# ---------------------------------------------------------------------------

_Q1_SQL = """
SELECT l_returnflag,
       l_linestatus,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE), 2) AS sum_disc_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                 * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))) AS DOUBLE), 2) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

_NATION_REVENUE_SQL = """
SELECT n_name,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""

_LANG_COUNTS_SQL = "SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang"

_ZERO_SQL = "SELECT event_id, CAST(0.0 AS DOUBLE) AS score FROM events"

# 64-bit simhash is the contract config (round-3): at max_hamming=6 the
# pigeonhole banding gets 9-10-bit segments (512-1024 buckets/band) instead of
# the 4-5-bit (16-32 bucket) segments a 32-bit hash allows — candidate-pair
# mass drops from ~n^2/32 per band to ~n^2/512, which is what a 10^9-doc
# corpus needs (judge round-2 finding: 1.33M candidate pairs at sf0.1 with 32
# bits).
_SIMHASH_BITS = 64

# mixture-epoch contract rates: src0 upsampled 2.5x, src1 dropped to 40%,
# everything else exactly once
_MIX_EPOCH_RATES = {'src0': 2.5, 'src1': 0.4}


def _mixture_epochs_oracle_sql(rates=None, default_rate: float = 1.0) -> str:
    rates = dict(rates if rates is not None else _MIX_EPOCH_RATES)
    nf = ' '.join(f"WHEN source = '{s}' THEN {int(r)}"
                  for s, r in sorted(rates.items()))
    ft = ' '.join(f"WHEN source = '{s}' THEN {int(round((r - int(r)) * 1_000_000))}"
                  for s, r in sorted(rates.items()))
    return f"""
    WITH b AS (SELECT doc_id, source,
                      CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)
                           AS BIGINT) % 1000000 AS bucket,
                      CASE {nf} ELSE {int(default_rate)} END AS n_full,
                      CASE {ft} ELSE {int(round((default_rate - int(default_rate)) * 1_000_000))} END AS frac_thr
               FROM documents),
    c AS (SELECT doc_id, source,
                 CAST(n_full + CASE WHEN bucket < frac_thr THEN 1 ELSE 0 END AS INTEGER) AS n_copies
          FROM b)
    SELECT doc_id, source, CAST(e AS INTEGER) AS epoch, n_copies
    FROM c, LATERAL unnest(range(1, n_copies + 1)) AS t(e)
    WHERE n_copies > 0
    """


# fixed BM25 query-term list (term order is part of the contract: the score
# sums per-term parts in THIS order, so the double result is deterministic)
_BM25_TERMS = ('spark', 'join', 'window', 'stream')

# Gopher-style repetition signals over word n-grams (docs have no line
# structure).  Integer-derived single divisions -> bit-exact cross-engine.
_REPETITION_SQL = """
    WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
    g2 AS (SELECT doc_id, len(words) AS n_words, length(text) AS chars,
                  array_to_string(words[s+1:s+2], ' ') AS gram
           FROM w, LATERAL unnest(range(0, greatest(len(words)-2+1, 0))) AS t(s)),
    tc AS (SELECT doc_id, n_words, chars, gram, COUNT(*) AS cnt
           FROM g2 GROUP BY ALL),
    top AS (SELECT doc_id, n_words, chars, gram AS top_gram, cnt AS top_gram_cnt,
                   cnt * length(gram) * 1.0 / chars AS top2gram_char_frac,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram ASC) AS rn
            FROM tc QUALIFY rn = 1),
    g5 AS (SELECT doc_id, s AS start, array_to_string(words[s+1:s+5], ' ') AS gram
           FROM w, LATERAL unnest(range(0, greatest(len(words)-5+1, 0))) AS t(s)),
    d5 AS (SELECT doc_id, start,
                  COUNT(*) OVER (PARTITION BY doc_id, gram) AS cnt FROM g5),
    cov AS (SELECT DISTINCT doc_id, start + p AS p
            FROM d5, LATERAL unnest(range(0, 5)) AS u(p)
            WHERE cnt >= 2),
    ncov AS (SELECT doc_id, COUNT(*) AS n_cov FROM cov GROUP BY doc_id)
    SELECT t.doc_id, CAST(t.n_words AS BIGINT) AS n_words, t.top_gram,
           CAST(t.top_gram_cnt AS BIGINT) AS top_gram_cnt, t.top2gram_char_frac,
           COALESCE(n.n_cov, 0) * 1.0 / t.n_words AS dup5gram_word_frac
    FROM top t LEFT JOIN ncov n ON t.doc_id = n.doc_id
"""


def _bm25_oracle_sql(terms=_BM25_TERMS, k: int = 20, k1: float = 1.2,
                     b: float = 0.75) -> str:
    """DuckDB BM25 twin, generated from the SAME term tuple as the Spark
    query so the fixed summation order can never drift between the two."""
    tf_cols = ',\n         '.join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    df_cols = ',\n             '.join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms)))
    norm = (f"({1 - b!r} + {b!r} * CAST(dl AS DOUBLE)"
            " / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))")
    parts = '\n       + '.join(
        f"ln((CAST(n_docs AS DOUBLE) - df_{i} + 0.5) / (df_{i} + 0.5) + 1)"
        f" * CAST(tf_{i} AS DOUBLE) * ({k1!r} + 1)"
        f" / (CAST(tf_{i} AS DOUBLE) + {k1!r} * {norm})"
        for i in range(len(terms)))
    return f"""
    WITH base AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl,
         {tf_cols}
      FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
             {df_cols}
              FROM base),
    scored AS (
      SELECT doc_id, CAST(dl AS BIGINT) AS n_words,
             ROUND({parts}, 6) AS score_bm25
      FROM base, stats)
    SELECT * FROM scored WHERE score_bm25 > 0
    ORDER BY score_bm25 DESC, doc_id ASC
    LIMIT {k}
    """


_DUP_CLUSTERS_SQL = """
WITH RECURSIVE words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                      generate_subscripts(string_split(text, ' '), 1) AS i
               FROM documents),
sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
       FROM words a
       JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       JOIN words c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pair AS (SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS inter
         FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         GROUP BY 1, 2),
dups AS (SELECT da, db
         FROM pair JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
         WHERE ROUND(inter * 1.0 / (ca.n + cb.n - inter), 6) >= 0.5),
edges AS (SELECT da AS src, db AS dst FROM dups
          UNION SELECT db, da FROM dups),
reach(node, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
"""


def _simhash_pairs_sql(max_hamming: int = 6) -> str:
    """Brute-force O(n^2) oracle for the banded simhash pair query — the
    banding is a pruning strategy only, so the result sets must be equal."""
    return f"""
    WITH sim AS ({_simhash_sql()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


_KNN_SQL = """
WITH q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
s AS (SELECT query_id, e.vec_id AS neighbor_id,
             ROUND(list_inner_product(ev, qv)
                   / (sqrt(list_inner_product(ev, ev)) * sqrt(list_inner_product(qv, qv))),
                   6) AS cos_sim
      FROM e, q WHERE e.vec_id <> q.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM s)
SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rank FROM r WHERE rnk <= 5
"""


def _sax_sql(alphabet: int = 4, keyed: bool = True, key: str = 'user_id') -> str:
    """Oracle for the SAX tier: the same DECIMAL-exact frame/series power
    sums (intermediate powers on DuckDB's int128 path, as for the moments
    oracle), the same fixed-shape double expressions for paa/mean/var/z,
    and the same stdlib-computed breakpoints embedded as repr literals —
    symbols classify the ROUNDED z on both engines.  ``keyed=False``
    symbolizes the single GLOBAL series (the moments-query pattern for the
    sparse per-user fixture)."""
    from changepoynt_spark.operators.rollup import sax_breakpoints

    bps = sax_breakpoints(alphabet)
    sym = ('CASE '
           + ' '.join(f"WHEN z < {float(bp)!r} THEN '{chr(97 + i)}'"
                      for i, bp in enumerate(bps))
           + f" ELSE '{chr(97 + len(bps))}' END")
    ksel = f'{key}, ' if keyed else ''
    kf = f'f.{key}, ' if keyed else ''
    kgrp_f = 'GROUP BY 1, 2' if keyed else 'GROUP BY 1'
    kgrp_s = f'GROUP BY {key}' if keyed else ''
    join_s = (f'JOIN s ON f.{key} = s.{key}' if keyed
              else 'CROSS JOIN s')
    return f"""
    WITH f AS (
      SELECT {ksel}date_trunc('hour', ts) AS frame_start,
             COUNT(value) AS n_points,
             CAST(SUM(CAST(value AS DECIMAL(8,4))) AS DECIMAL(28,4)) AS f1,
             CAST(SUM(CAST(CAST(value AS DECIMAL(8,4))
                           * CAST(value AS DECIMAL(8,4))
                           AS DECIMAL(24,8)))
                  AS DECIMAL(38,8)) AS f2
      FROM events {kgrp_f}),
    s AS (SELECT {ksel}SUM(n_points) AS n,
                 CAST(SUM(f1) AS DECIMAL(28,4)) AS s1,
                 CAST(SUM(f2) AS DECIMAL(38,8)) AS s2
          FROM f {kgrp_s}),
    d AS (SELECT {kf}f.frame_start, f.n_points,
                 CAST(f.f1 AS DOUBLE) / CAST(f.n_points AS DOUBLE) AS paa,
                 CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE) AS mean,
                 CAST(s.s2 AS DOUBLE) / CAST(s.n AS DOUBLE)
                   - (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
                     * (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE)) AS var
          FROM f {join_s}),
    zz AS (SELECT {ksel}frame_start, n_points, paa, var,
                  ROUND((paa - mean) / sqrt(var), 6) + 0.0 AS z
           FROM d)
    SELECT {ksel}frame_start, n_points,
           ROUND(paa, 6) + 0.0 AS paa,
           CASE WHEN var > 1e-6 THEN z END AS z,
           CASE WHEN var > 1e-6 THEN {sym} END AS symbol
    FROM zz
    """


def _sax_words_sql(alphabet: int = 4, w: int = 4, frame_sec: int = 3600,
                   keyed: bool = False, key: str = 'user_id',
                   numerosity: bool = False) -> str:
    """Oracle for the sliding SAX words: the SAX tier oracle as a CTE, then
    the same w-frame window (windowed string_agg consumes rows in frame
    order in DuckDB, matching Spark's ordered-window collect_list), with
    the same completeness + contiguity gate.  ``numerosity`` adds
    Lin/Keogh numerosity reduction as a lag filter over the EMITTED word
    stream — same two-stage order as the Spark operator."""
    ksel = f'{key}, ' if keyed else ''
    part = f'PARTITION BY {key} ' if keyed else ''
    base = f"""
    WITH sax AS ({_sax_sql(alphabet, keyed=keyed, key=key)}),
    words AS (
      SELECT {ksel}frame_start,
             string_agg(symbol, '') OVER win AS word,
             COUNT(symbol) OVER win AS n_sym,
             MAX(frame_start) OVER win AS last_start
      FROM sax
      WINDOW win AS ({part}ORDER BY frame_start
                     ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING))
    SELECT {ksel}frame_start, word FROM words
    WHERE n_sym = {w}
      AND epoch(last_start) - epoch(frame_start) = {(w - 1) * frame_sec}
    """
    if not numerosity:
        return base
    return f"""
    WITH emitted AS ({base}),
    lagged AS (SELECT {ksel}frame_start, word,
                      lag(word) OVER ({part}ORDER BY frame_start) AS prev
               FROM emitted)
    SELECT {ksel}frame_start, word FROM lagged
    WHERE prev IS NULL OR word <> prev
    """


def _sax_series_dups_sql(alphabet: int = 4, w: int = 4, frame_sec: int = 3600,
                         key: str = 'event_type',
                         threshold: float = 0.0) -> str:
    """Oracle for the SAX series near-dup pairs: the keyed words oracle as a
    CTE, distinct word sets per series, inverted-index self-join for the
    intersection (joining raw words — Spark's xxhash64 postings are
    injective on the bounded SAX vocabulary), per-series set sizes for the
    union, same round-6 ratio and threshold."""
    words = _sax_words_sql(alphabet, w, frame_sec, keyed=True, key=key)
    return f"""
    WITH wds AS ({words}),
    sets AS (SELECT DISTINCT {key} AS id, word FROM wds),
    inter AS (SELECT a.id AS series_a, b.id AS series_b, COUNT(*) AS i
              FROM sets a JOIN sets b ON a.word = b.word AND a.id < b.id
              GROUP BY 1, 2),
    cnt AS (SELECT id, COUNT(*) AS n FROM sets GROUP BY id)
    SELECT series_a, series_b,
           ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.id = inter.series_a
    JOIN cnt cb ON cb.id = inter.series_b
    WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= {threshold}
    """


def _sax_discords_sql(alphabet: int = 4, w: int = 4, frame_sec: int = 3600,
                      k: int = 20) -> str:
    """Oracle for the HOT-SAX discord candidates: the words oracle as a
    CTE, global word counts, the same deterministic total order."""
    return f"""
    WITH w AS ({_sax_words_sql(alphabet, w, frame_sec, keyed=False)}),
    c AS (SELECT word, COUNT(*) AS word_count FROM w GROUP BY word),
    r AS (SELECT w.frame_start, w.word, c.word_count,
                 row_number() OVER (ORDER BY c.word_count ASC,
                                    w.frame_start ASC, w.word ASC) AS rnk
          FROM w JOIN c ON w.word = c.word)
    SELECT frame_start, word, word_count, CAST(rnk AS INTEGER) AS rank
    FROM r WHERE rnk <= {k}
    """


def _sax_motifs_sql(alphabet: int = 4, w: int = 4, frame_sec: int = 3600,
                    k: int = 20) -> str:
    """Oracle for the SAX motif candidates: the numerosity-reduced words
    oracle as a CTE, per-word occurrence counts with first/last frame, the
    same deterministic (count desc, word asc) total order."""
    return f"""
    WITH w AS ({_sax_words_sql(alphabet, w, frame_sec, keyed=False,
                               numerosity=True)}),
    c AS (SELECT word, COUNT(*) AS n_occurrences,
                 MIN(frame_start) AS first_frame,
                 MAX(frame_start) AS last_frame
          FROM w GROUP BY word),
    r AS (SELECT word, n_occurrences, first_frame, last_frame,
                 row_number() OVER (ORDER BY n_occurrences DESC,
                                    word ASC) AS rnk
          FROM c)
    SELECT word, n_occurrences, first_frame, last_frame,
           CAST(rnk AS INTEGER) AS rank
    FROM r WHERE rnk <= {k}
    """


def _sax_motif_pairs_sql(alphabet: int = 4, w: int = 4,
                         frame_sec: int = 3600, k: int = 10,
                         occ_cap: int = 200) -> str:
    """Oracle for the exact-distance motif verification: same complete
    contiguous windows carrying int64-quantized z vectors, same broadcast
    of the top-k candidate words, same occurrence cap, same non-overlap
    gate, same int64 squared distance and (d2, frame_a, frame_b) argmin."""
    return f"""
    WITH sax AS ({_sax_sql(alphabet, keyed=False)}),
    occ0 AS (
      SELECT frame_start,
             string_agg(symbol, '') OVER win AS word,
             list(CAST(round(z * 1000000) AS BIGINT)) OVER win AS zvec,
             COUNT(symbol) OVER win AS n_sym,
             MAX(frame_start) OVER win AS last_start
      FROM sax
      WINDOW win AS (ORDER BY frame_start
                     ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)),
    occ AS (SELECT frame_start, word, zvec FROM occ0
            WHERE n_sym = {w}
              AND epoch(last_start) - epoch(frame_start) = {(w - 1) * frame_sec}),
    cand AS (SELECT word, n_occurrences
             FROM ({_sax_motifs_sql(alphabet, w, frame_sec, k)})
             WHERE n_occurrences >= 2),
    joined AS (SELECT o.frame_start, o.word, o.zvec, c.n_occurrences
               FROM occ o JOIN cand c ON o.word = c.word),
    capped AS (SELECT *, row_number() OVER (PARTITION BY word
                                            ORDER BY frame_start) AS rn
               FROM joined),
    cj AS (SELECT * FROM capped WHERE rn <= {occ_cap}),
    pairs AS (
      SELECT a.word, a.n_occurrences,
             a.frame_start AS frame_a, b.frame_start AS frame_b,
             CAST(list_sum(list_transform(range(1, {w + 1}),
                    i -> (a.zvec[i] - b.zvec[i]) * (a.zvec[i] - b.zvec[i])))
                  AS BIGINT) AS dist2_micro
      FROM cj a JOIN cj b ON a.word = b.word
       AND epoch(b.frame_start) - epoch(a.frame_start) >= {w * frame_sec}),
    r AS (SELECT *, row_number() OVER (PARTITION BY word
                 ORDER BY dist2_micro, frame_a, frame_b) AS rr FROM pairs)
    SELECT word, n_occurrences, frame_a, frame_b, dist2_micro
    FROM r WHERE rr = 1
    """


def _dsir_sql(target_sources, dim: int = 64) -> str:
    """Oracle for the DSIR importance weights: the same md5 hash buckets
    (the proven hash_embed/quality-model bucket form), the same add-one
    smoothed log-ratio rounded to 6 decimals and quantized to DECIMAL per
    bucket, exact decimal doc sums, same fixed-shape finals."""
    targets = ', '.join(f"'{s}'" for s in target_sources)
    return f"""
    WITH inst AS (
      SELECT doc_id, source IN ({targets}) AS t,
             CAST(CAST('0x' || substring(md5(w), 1, 8) AS BIGINT)
                  % {dim} AS INTEGER) AS b
      FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
            FROM documents)),
    tf AS (SELECT doc_id, t, b, COUNT(*) AS tf FROM inst GROUP BY 1, 2, 3),
    raw AS (SELECT b, CAST(SUM(tf) AS BIGINT) AS rc FROM tf GROUP BY b),
    tgt AS (SELECT b, CAST(SUM(tf) AS BIGINT) AS tc FROM tf WHERE t GROUP BY b),
    bw AS (SELECT raw.b, raw.rc, COALESCE(tgt.tc, 0) AS tc
           FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
    tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS rn,
                   CAST(SUM(tc) AS BIGINT) AS tn FROM bw),
    lw AS (SELECT b,
                  CAST(ROUND(ln(CAST(tc + 1 AS DOUBLE))
                             - ln(CAST(tn + {dim} AS DOUBLE))
                             - ln(CAST(rc + 1 AS DOUBLE))
                             + ln(CAST(rn + {dim} AS DOUBLE)), 6)
                       AS DECIMAL(18,6)) AS lw
           FROM bw, tot),
    pd AS (SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_feats,
                  CAST(SUM(CAST(tf.tf AS DECIMAL(18,0)) * lw.lw)
                       AS DECIMAL(38,6)) AS s
           FROM tf JOIN lw ON tf.b = lw.b GROUP BY 1)
    SELECT doc_id, n_feats,
           ROUND(CAST(s AS DOUBLE) / CAST(n_feats AS DOUBLE), 6) + 0.0
             AS avg_logweight,
           ROUND(exp(CAST(s AS DOUBLE) / CAST(n_feats AS DOUBLE)), 6)
             AS weight
    FROM pd
    """


_UNIGRAM_PPL_SQL = """
    WITH inst AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM inst GROUP BY doc_id, w),
    cnt AS (SELECT w, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
    lp AS (SELECT w, CAST(ROUND(ln(CAST(c AS DOUBLE)) - ln(CAST(n AS DOUBLE)),
                                6) AS DECIMAL(18,6)) AS lp
           FROM cnt, tot),
    pd AS (SELECT t.doc_id, CAST(SUM(t.tf) AS BIGINT) AS n_words,
                  CAST(SUM(CAST(t.tf AS DECIMAL(18,0)) * l.lp)
                       AS DECIMAL(38,6)) AS s
           FROM tf t JOIN lp l ON t.w = l.w GROUP BY t.doc_id)
    SELECT doc_id, n_words,
           ROUND(CAST(s AS DOUBLE) / CAST(n_words AS DOUBLE), 6) + 0.0
             AS avg_logprob,
           ROUND(exp(-(CAST(s AS DOUBLE) / CAST(n_words AS DOUBLE))), 6)
             AS perplexity
    FROM pd
"""


def _lsh_topk_sql(n_planes: int = 6, seed: int = 7, k: int = 10, dim: int = 64) -> str:
    """Oracle for the hyperplane-LSH top-k: the SAME seeded Gaussian planes,
    embedded as double literals (repr round-trips exactly), bucket the
    corpus in SQL; the exact cosine re-rank runs over the matching bucket.
    Both engines evaluate the dot products sequentially over identical
    doubles, so buckets — and hence the candidate set — agree exactly."""
    import numpy as np
    planes = np.random.default_rng(seed).standard_normal((n_planes, dim))

    def arr(p):
        return '[' + ', '.join(repr(float(x)) for x in p) + ']'

    def bucket(col):
        return ' + '.join(
            f"(CASE WHEN list_inner_product({col}, {arr(planes[i])}) >= 0 "
            f"THEN {2 ** i} ELSE 0 END)" for i in range(n_planes))

    return f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
          FROM embeddings WHERE vec_id <> 0),
    qb AS (SELECT {bucket('qv')} AS b FROM q),
    cand AS (SELECT vec_id, ev FROM e WHERE ({bucket('ev')}) = (SELECT b FROM qb))
    SELECT vec_id,
           ROUND(list_inner_product(ev, qv)
                 / (sqrt(list_inner_product(ev, ev)) * sqrt(list_inner_product(qv, qv))),
                 6) AS cos_sim
    FROM cand, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT {k}
    """


def _quality_model_sql(dim: int = 256, seed: int = 31, bias: float = 0.0,
                       threshold: float = 0.5) -> str:
    """Oracle for the linear quality model: the SAME seeded weights as
    integer micro-unit literals, the SAME md5 word-bucket hashing the
    engine's hash_embed family uses, integer-exact sums, and the identical
    bias + (sum/1e6)/n -> sigmoid expression chain (round-6 absorbs the exp
    ulp)."""
    import numpy as np
    wq = [int(round(float(w) * 1_000_000))
          for w in np.random.default_rng(seed).standard_normal(dim)]
    wlit = '[' + ', '.join(str(v) for v in wq) + ']'
    return f"""
    WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    b AS (SELECT doc_id,
                 CAST(CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) % {dim} AS INTEGER) AS bkt
          FROM words),
    s AS (SELECT doc_id, COUNT(*) AS n_words,
                 SUM(list_extract({wlit}, bkt + 1)) AS sumq
          FROM b GROUP BY doc_id),
    sc AS (SELECT doc_id, n_words,
                  ROUND(1.0 / (1.0 + exp(-({bias} + (CAST(sumq AS DOUBLE) / 1000000.0)
                                          / CAST(n_words AS DOUBLE)))), 6) AS quality_score
           FROM s)
    SELECT doc_id, n_words, quality_score, quality_score >= {threshold} AS keep FROM sc
    """


def _cosine_dups_sql(threshold: float = 0.6, n_planes: int = 6, seed: int = 7,
                     n_tables: int = 8, dim: int = 64) -> str:
    """Oracle for the multi-table LSH near-dup pairs: every table's seeded
    Gaussian planes embedded as double literals (repr round-trips exactly),
    per-table bucket self-joins unioned (UNION dedups, mirroring
    dropDuplicates), then the exact cosine verify with the same
    dot/(norm_a*norm_b) expression shape.  Same literal-planes technique as
    :func:`_lsh_topk_sql` — both engines fold the dot products sequentially
    over identical doubles, so buckets and candidates agree exactly."""
    import numpy as np

    def arr(p):
        return '[' + ', '.join(repr(float(x)) for x in p) + ']'

    def bucket(col, planes):
        return ' + '.join(
            f"(CASE WHEN list_inner_product({col}, {arr(planes[i])}) >= 0 "
            f"THEN {2 ** i} ELSE 0 END)" for i in range(n_planes))

    table_pairs = []
    for t in range(n_tables):
        planes = np.random.default_rng(seed + 104729 * t).standard_normal((n_planes, dim))
        table_pairs.append(f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM (SELECT vec_id, {bucket('v', planes)} AS bkt FROM e) a
        JOIN (SELECT vec_id, {bucket('v', planes)} AS bkt FROM e) b
          ON a.bkt = b.bkt AND a.vec_id < b.vec_id""")
    cand_union = '\n        UNION\n'.join(table_pairs)

    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings
               WHERE sqrt(list_inner_product(list_transform(embedding,
                          x -> CAST(x AS DOUBLE)),
                          list_transform(embedding, x -> CAST(x AS DOUBLE)))) > 0),
    cand AS ({cand_union}),
    verified AS (
      SELECT cand.vec_a, cand.vec_b,
             ROUND(list_inner_product(ea.v, eb.v)
                   / (sqrt(list_inner_product(ea.v, ea.v))
                      * sqrt(list_inner_product(eb.v, eb.v))), 6) AS cos_sim
      FROM cand
      JOIN e ea ON ea.vec_id = cand.vec_a
      JOIN e eb ON eb.vec_id = cand.vec_b)
    SELECT vec_a, vec_b, cos_sim FROM verified WHERE cos_sim >= {threshold}
    """


def _langid_sql() -> str:
    """SQL form of the trigram language-ID heuristic: non-overlapping
    substring counts via the replace-length trick (equivalent to
    pandas str.count for literal patterns), argmax with the kernel's
    first-max tie order, conf as the same single IEEE division —
    bit-exact vs the numpy kernel."""
    from changepoynt_spark.operators.text import _LANG_TRIGRAMS
    order = list(_LANG_TRIGRAMS)
    cnt = {L: ' + '.join(f"(length(text) - length(replace(text, '{t}', ''))) / 3"
                         for t in T)
           for L, T in _LANG_TRIGRAMS.items()}
    sel = ', '.join(f"CAST({e} AS DOUBLE) AS s_{L}" for L, e in cnt.items())
    cases = []
    for L in order:
        conds = ' AND '.join(f's_{L} >= s_{M}' for M in order if M != L)
        cases.append(f"WHEN {conds} THEN '{L}'")
    pred = "CASE WHEN total = 0 THEN 'und' " + ' '.join(cases) + ' END'
    tot = ' + '.join(f's_{L}' for L in order)
    gmax = 'greatest(' + ', '.join(f's_{L}' for L in order) + ')'
    return f"""
    WITH s AS (SELECT doc_id, {sel} FROM documents),
    t AS (SELECT *, {tot} AS total FROM s)
    SELECT doc_id, {pred} AS lang_pred,
           CASE WHEN total > 0 THEN {gmax} / total ELSE 0.0 END AS lang_conf
    FROM t
    """


def _ivf_centroids(n_lists: int = 16, dim: int = 64, seed: int = 11):
    """Data-independent coarse quantizer for the CONTRACT query: seeded
    unit-norm Gaussian directions (equal norms -> assignment reduces to
    most-aligned direction, balanced on near-orthogonal corpora).  Being
    data-independent lets oracle_sql() regenerate the identical literals
    without a Spark session; the learned-kmeans path is pytest-anchored
    (ivf full-probe == exact, tests/test_similarity_text.py)."""
    import numpy as np
    c = np.random.default_rng(seed).standard_normal((n_lists, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


# Feature-hashing embedder twin (md5 buckets/signs, integer sums, one sqrt +
# one division per component -> bit-exact cross-engine; proven at 32k
# components).  `dense` = (doc_id, i, v) normalized components, `nrm` = norms.
_HASH_EMBED_CTE = """
    inst AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
    hb AS (SELECT doc_id,
                  CAST(CAST('0x' || substring(md5(w),1,8) AS BIGINT) % 64 AS INTEGER) AS b,
                  CASE WHEN CAST('0x' || substring(md5('s' || w),1,2) AS INTEGER) % 2 = 0
                       THEN 1 ELSE -1 END AS s
           FROM inst),
    sums AS (SELECT doc_id, b, CAST(SUM(s) AS BIGINT) AS v FROM hb GROUP BY doc_id, b),
    dims AS (SELECT DISTINCT doc_id, unnest(range(0,64)) AS i FROM documents),
    raw AS (SELECT d.doc_id, d.i, COALESCE(s.v, 0) AS v
            FROM dims d LEFT JOIN sums s ON d.doc_id = s.doc_id AND d.i = s.b),
    nrm AS (SELECT doc_id, sqrt(CAST(SUM(v*v) AS DOUBLE)) AS norm FROM raw GROUP BY doc_id),
    dense AS (SELECT r.doc_id, r.i,
                     CASE WHEN n.norm > 0 THEN CAST(r.v AS DOUBLE)/n.norm
                          ELSE CAST(r.v AS DOUBLE) END AS v
              FROM raw r JOIN nrm n ON r.doc_id = n.doc_id)
"""


def _score_percentiles_oracle_sql() -> str:
    from changepoynt_spark.operators.window_ops import moving_window_oracle_sql
    scores = moving_window_oracle_sql(window_length=8, method='meanvar')
    return f"""
    WITH scores AS ({scores})
    SELECT user_id, rn, score,
           percent_rank() OVER (PARTITION BY user_id ORDER BY score, rn)
               AS score_pctile
    FROM scores
    """


def _segments_oracle_sql(threshold: float = 2000.0, d: int = 8) -> str:
    """Peak-picking + segmentation composed over the moving-window score
    oracle — the full scores->segments chain in ANSI SQL."""
    from changepoynt_spark.operators.window_ops import moving_window_oracle_sql
    scores = moving_window_oracle_sql(window_length=8, method='meanvar')
    return f"""
    WITH scores AS ({scores}),
    cp AS (SELECT user_id, rn, score,
                  (score >= {threshold!r}
                   AND score > COALESCE(max(score) OVER
                       (PARTITION BY user_id ORDER BY rn
                        ROWS BETWEEN {d} PRECEDING AND 1 PRECEDING),
                       CAST('-infinity' AS DOUBLE))
                   AND score >= COALESCE(max(score) OVER
                       (PARTITION BY user_id ORDER BY rn
                        ROWS BETWEEN 1 FOLLOWING AND {d} FOLLOWING),
                       CAST('-infinity' AS DOUBLE))) AS is_cp
           FROM scores),
    seg AS (SELECT user_id, rn, score,
                   SUM(CASE WHEN is_cp THEN 1 ELSE 0 END) OVER
                       (PARTITION BY user_id ORDER BY rn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segment_id
            FROM cp)
    SELECT user_id, CAST(segment_id AS BIGINT) AS segment_id,
           MIN(rn) AS start_pos, MAX(rn) AS end_pos,
           COUNT(*) AS n_points,
           ROUND(SUM(score) / COUNT(*), 3) AS mean_score
    FROM seg GROUP BY user_id, segment_id
    """


def _funnel_oracle_sql(stoplist: str) -> str:
    """Quality gate + normalized dedup + contamination funnel in ANSI SQL —
    mirrors text.corpus_funnel stage by stage."""
    return rf"""
    WITH m AS (
      SELECT doc_id,
             length(text) AS n_chars_m,
             len(string_split(text, ' ')) AS n_words,
             (length(text) - len(string_split(text, ' ')) + 1) * 1.0
               / len(string_split(text, ' ')) AS avg_wl,
             len(list_filter(string_split(text, ' '),
                             w -> list_contains([{stoplist}], lower(w)))) * 1.0
               / len(string_split(text, ' ')) AS stop_ratio,
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0
               / length(text) AS sym_ratio
      FROM documents),
    flags AS (SELECT doc_id,
                     ((n_words >= 20 AND n_words <= 100000)
                      AND (avg_wl >= 2.0 AND avg_wl <= 12.0)
                      AND (stop_ratio >= 0.01)
                      AND (n_chars_m > 0 AND sym_ratio <= 0.3)) AS keep
              FROM m),
    nrm AS (SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS h
            FROM documents),
    base AS (SELECT d.doc_id, f.keep, n.h,
                    d.doc_id IN (0, 1, 2, 3, 4) AS is_bench
             FROM documents d
             JOIN flags f ON d.doc_id = f.doc_id
             JOIN nrm n ON d.doc_id = n.doc_id),
    canon AS (SELECT *, (NOT is_bench AND keep) AS in_q,
                     MIN(CASE WHEN NOT is_bench AND keep THEN doc_id END)
                         OVER (PARTITION BY h) AS c
              FROM base),
    contam AS ({_CONTAMINATION_SQL.replace('FROM agg', 'FROM agg ')}),
    j AS (SELECT canon.doc_id, canon.is_bench, canon.in_q,
                 (canon.in_q AND canon.doc_id = canon.c) AS is_canonical,
                 COALESCE(contam.hit_ratio < 0.5, FALSE) AS contam_ok
          FROM canon LEFT JOIN contam ON canon.doc_id = contam.doc_id),
    agg AS (SELECT CAST(SUM(CASE WHEN NOT is_bench THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                   CAST(SUM(CASE WHEN in_q THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                   CAST(SUM(CASE WHEN is_canonical AND contam_ok THEN 1 ELSE 0 END) AS BIGINT) AS n3
            FROM j)
    SELECT 'corpus' AS stage, 0 AS stage_order, n0 AS n_docs,
           CAST(0 AS BIGINT) AS n_dropped FROM agg
    UNION ALL SELECT 'quality_gate', 1, n1, n0 - n1 FROM agg
    UNION ALL SELECT 'exact_dedup_normalized', 2, n2, n1 - n2 FROM agg
    UNION ALL SELECT 'contamination_gate', 3, n3, n2 - n3 FROM agg
    """


def _cluster_sizes_sql(n_lists: int = 16, dim: int = 64, seed: int = 11) -> str:
    """Histogram twin of the IVF assignment: same centroid literals, same
    first-position argmax — integer counts, exact compare."""
    cents = _ivf_centroids(n_lists, dim, seed)

    def arr(c):
        return '[' + ', '.join(repr(float(x)) for x in c) + ']'

    def score(col, c):
        half = repr(float(c @ c) / 2.0)
        return f"(list_inner_product({col}, {arr(c)}) - {half})"

    elist = '[' + ', '.join(score('ev', c) for c in cents) + ']'
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
               FROM embeddings)
    SELECT CAST(list_position({elist}, list_max({elist})) - 1 AS INTEGER) AS list_id,
           COUNT(*) AS n_vecs
    FROM e GROUP BY 1
    """


def _ivf_topk_sql(n_lists: int = 16, nprobe: int = 4, k: int = 10, dim: int = 64,
                  seed: int = 11) -> str:
    """IVF oracle: centroid literals + the same score expression
    (v.c_i - |c_i|^2/2), probe ranking, first-position argmax assignment,
    exact cosine re-rank — mirrors similarity.ivf_topk exactly."""
    cents = _ivf_centroids(n_lists, dim, seed)

    def arr(c):
        return '[' + ', '.join(repr(float(x)) for x in c) + ']'

    def score(col, c):
        half = repr(float(c @ c) / 2.0)
        return f"(list_inner_product({col}, {arr(c)}) - {half})"

    qsc = ' UNION ALL '.join(
        f"SELECT {i} AS cid, {score('qv', c)} AS s FROM q" for i, c in enumerate(cents))
    elist = '[' + ', '.join(score('ev', c) for c in cents) + ']'
    return f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
          FROM embeddings WHERE vec_id <> 0),
    qsc AS ({qsc}),
    probes AS (SELECT cid FROM qsc ORDER BY s DESC, cid LIMIT {nprobe}),
    assigned AS (SELECT vec_id, ev,
                        list_position({elist}, list_max({elist})) - 1 AS lid
                 FROM e),
    cand AS (SELECT vec_id, ev FROM assigned WHERE lid IN (SELECT cid FROM probes))
    SELECT vec_id,
           ROUND(list_inner_product(ev, qv)
                 / (sqrt(list_inner_product(ev, ev)) * sqrt(list_inner_product(qv, qv))),
                 6) AS cos_sim
    FROM cand, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT {k}
    """


def _lttb_sql(n_out: int) -> str:
    """DuckDB twin of window_ops.lttb_downsample: the sequential
    bucket-anchor recurrence runs as a RECURSIVE CTE over per-user arrays
    (scalar list functions only — no aggregates in the recursive term).
    Bit-exact with the kernel by construction: integer bucket edges
    1 + (j*(n-2))//(n_out-2), timestamps as int64 microsecond offsets from
    the series start, values as floor(v*1e6) micro-units, bucket means =
    CAST(int_sum AS DOUBLE)/cnt, and first-position argmax — the same
    expression tree the kernel evaluates (see lttb_downsample docstring).
    Series with n <= n_out pass through whole, exactly like the kernel."""
    m = n_out - 2
    return f"""
    WITH RECURSIVE
    pts AS (
      SELECT user_id, ts, value,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1
                  AS BIGINT) AS rn,
             epoch_us(ts) AS tn,
             CAST(floor(value * 1000000.0) AS BIGINT) AS vq
      FROM events),
    ser AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             list(tn ORDER BY rn) AS tn0,
             list(vq ORDER BY rn) AS vqs
      FROM pts GROUP BY user_id),
    ser2 AS (
      SELECT user_id, n, list_transform(tn0, x -> x - tn0[1]) AS tns, vqs
      FROM ser),
    walk AS (
      SELECT user_id, n, tns, vqs,
             CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS a,
             [CAST(0 AS BIGINT)] AS chosen
      FROM ser2 WHERE n > {n_out}
      UNION ALL
      SELECT user_id, n, tns, vqs, i + 1, nxt_a, list_append(chosen, nxt_a)
      FROM (
        SELECT user_id, n, tns, vqs, i, chosen,
               lo + list_position(areas, list_aggregate(areas, 'max')) - 1 AS nxt_a
        FROM (
          SELECT *,
                 list_transform(range(lo, hi), p ->
                   abs(  (tns[a + 1] - avg_t) * (vqs[p + 1] - vqs[a + 1])
                       - (tns[a + 1] - tns[p + 1]) * (avg_v - vqs[a + 1]))
                 ) AS areas
          FROM (
            SELECT *,
                   CAST(list_aggregate(tns[nxt_lo + 1:nxt_hi], 'sum') AS DOUBLE)
                     / (nxt_hi - nxt_lo) AS avg_t,
                   CAST(list_aggregate(vqs[nxt_lo + 1:nxt_hi], 'sum') AS DOUBLE)
                     / (nxt_hi - nxt_lo) AS avg_v
            FROM (
              SELECT *,
                     1 + (i * (n - 2)) // {m} AS lo,
                     1 + ((i + 1) * (n - 2)) // {m} AS hi,
                     1 + ((i + 1) * (n - 2)) // {m} AS nxt_lo,
                     CASE WHEN i + 2 < {n_out - 1}
                          THEN 1 + ((i + 2) * (n - 2)) // {m}
                          ELSE n END AS nxt_hi
              FROM walk WHERE i < {m})))))
    SELECT p.user_id, p.ts, p.value
    FROM pts p
    JOIN (
      SELECT user_id, unnest(list_append(chosen, n - 1)) AS rn
      FROM walk WHERE i = {m}
      UNION ALL
      SELECT user_id, rn FROM pts
      WHERE user_id IN (SELECT user_id FROM ser WHERE n <= {n_out})
    ) s USING (user_id, rn)
    """


def _retention_sql() -> str:
    """DuckDB twin of retention_report: the fused scored rollup's bucket
    GEOMETRY is purely positional (score length == n_tok == events per
    user; bucket k of tier step starts at epoch 1767225600 + k*step), so
    the dry-run retention counts reduce to integer date arithmetic — no
    score values involved.  min_required_length(moving_window, w=8) = 17
    filters short series before scoring (operators/scoring.py)."""
    now_s = 1769904000        # epoch of 2026-02-01 00:00:00 UTC
    epoch_s = 1767225600      # fused rollup tier epoch (2026-01-01)
    return f"""
    WITH n_per AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS L
      FROM events GROUP BY user_id HAVING count(*) >= 17),
    tiers(tier, step, max_age_s) AS (VALUES
      ('1m', 60, 30 * 86400), ('1h', 3600, 180 * 86400), ('1d', 86400, NULL)),
    buckets AS (
      SELECT t.tier, t.max_age_s,
             {epoch_s} + unnest(range(0, (n.L + t.step - 1) // t.step)) * t.step
               AS bucket_s
      FROM n_per n CROSS JOIN tiers t)
    SELECT tier,
           CAST(count(*) AS BIGINT) AS total_rows,
           CAST(sum(CASE WHEN max_age_s IS NULL
                          OR bucket_s >= {now_s} - max_age_s
                         THEN 1 ELSE 0 END) AS BIGINT) AS kept_rows,
           CAST(count(*) - sum(CASE WHEN max_age_s IS NULL
                                     OR bucket_s >= {now_s} - max_age_s
                                    THEN 1 ELSE 0 END) AS BIGINT) AS dropped_rows
    FROM buckets GROUP BY tier
    """


_TOKENIZE_SQL = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         list_transform(string_split(text, ' '),
                        w -> CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) % 50257)
           AS tokens
  FROM documents)
SELECT doc_id, len(tokens) AS n_tok,
       CAST(list_sum(tokens) AS BIGINT) AS tok_sum,
       tokens[1] AS tok_first, tokens[-1] AS tok_last, source
FROM toks
"""


def _bpe_sql(n_merges: int = 16, final: str = 'merges') -> str:
    """Unrolled DuckDB twin of operators/bpe.py: the SAME greedy
    ordered-replace BPE — n_merges chained (pair-count argmax -> literal
    replace) rounds over the word-count table, then (final='tokens') the
    learned replaces applied to each document's delimited char stream.
    ``AS MATERIALIZED`` is load-bearing: without it DuckDB inlines the
    chained CTEs and the plan doubles per round (2^n blowup)."""
    sep, eow = 'chr(31)', 'chr(23)'
    parts = [
        "wc AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM"
        " (SELECT unnest(string_split(text, ' ')) AS word FROM documents)"
        " GROUP BY word)",
        f"r0 AS MATERIALIZED (SELECT word, cnt, regexp_replace(word || {eow},"
        f" '(.)', '\\1' || {sep}, 'gs') AS repr FROM wc)"]
    for k in range(1, n_merges + 1):
        parts.append(f"""m{k} AS MATERIALIZED (
  SELECT lhs, rhs, CAST(SUM(cnt) AS BIGINT) AS pair_count FROM (
    SELECT cnt,
      unnest(list_transform(range(1, len(syms)), i -> syms[i])) AS lhs,
      unnest(list_transform(range(1, len(syms)), i -> syms[i+1])) AS rhs
    FROM (SELECT cnt, list_filter(string_split(repr, {sep}), x -> x <> '')
            AS syms FROM r{k - 1}))
  GROUP BY lhs, rhs ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1)""")
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT word, cnt, replace(repr,"
            f" (SELECT lhs || {sep} || rhs FROM m{k}),"
            f" (SELECT lhs || rhs FROM m{k})) AS repr FROM r{k - 1})")
    sql = 'WITH ' + ',\n'.join(parts)
    if final == 'merges':
        sel = '\nUNION ALL\n'.join(
            f"SELECT {k} AS merge_rank, lhs, rhs, lhs || rhs AS merged,"
            f" pair_count FROM m{k}" for k in range(1, n_merges + 1))
        return sql + '\nSELECT * FROM (' + sel + ') ORDER BY merge_rank'
    applied = f"regexp_replace(replace(text || ' ', ' ', {eow}), '(.)'," \
              f" '\\1' || {sep}, 'gs')"
    for k in range(1, n_merges + 1):
        applied = (f"replace({applied}, (SELECT lhs || {sep} || rhs"
                   f" FROM m{k}), (SELECT lhs || rhs FROM m{k}))")
    tok_id = ("CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % 50257")
    return sql + f""",
stream AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, text,
                  {applied} AS applied FROM documents),
syms AS (SELECT doc_id, source, text, applied,
                list_filter(string_split(applied, {sep}), x -> x <> '')
                  AS toks FROM stream)
SELECT doc_id,
       len(toks) AS n_bpe,
       CAST(list_sum(list_transform(toks, t -> {tok_id})) AS BIGINT)
         AS tok_sum,
       CAST('0x' || substring(md5(toks[1]), 1, 8) AS BIGINT) % 50257
         AS tok_first,
       CAST('0x' || substring(md5(toks[-1]), 1, 8) AS BIGINT) % 50257
         AS tok_last,
       (replace(replace(applied, {sep}, ''), {eow}, ' ') = text || ' ')
         AS roundtrip,
       source
FROM syms"""


def _bpe_windowed_sql(rounds: int = 18, batch: int = 64, window: int = 4,
                      final: str = 'merges', vocab: int = 50257) -> str:
    """DuckDB twin of the WINDOWED rank-batched BPE (operators/bpe.py,
    learn_bpe_merges_windowed mode='rank'): rounds x batch merges learned
    over the distinct W-word-window table, counts as-of round start, the
    batch applied in rank order as literal replaces.  Each round is ONE
    pair-count CTE + a top-`batch` rank CTE + the replaces folded into one
    single-row CTE cross-joined in (scalar subqueries re-evaluate PER ROW
    in DuckDB — 280 s vs 6 s, measured).  Tokens are produced the way the
    Spark side does it: per-window lookup against the learned window-repr
    table, reassembled in window order."""
    sep, eow = 'chr(31)', 'chr(23)'
    W = window
    parts = [
        """docs AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, text,
         string_split(text, ' ') AS words FROM documents)""",
        f"""chunks AS MATERIALIZED (
  SELECT doc_id, source, text, i AS pos,
         array_to_string(list_slice(words, CAST(i*{W}+1 AS BIGINT),
                                    CAST(i*{W}+{W} AS BIGINT)), ' ') AS chunk
  FROM docs, UNNEST(range(0, CAST(floor((len(words)+{W - 1})/{W})
                             AS BIGINT))) AS t(i))""",
        """wc AS MATERIALIZED (
  SELECT chunk, COUNT(*) AS cnt FROM chunks GROUP BY chunk)""",
        f"""r0 AS MATERIALIZED (SELECT chunk, cnt,
  regexp_replace(replace(chunk || ' ', ' ', {eow}), '(.)',
                 '\\1' || {sep}, 'gs') AS repr
  FROM wc)"""]
    for k in range(1, rounds + 1):
        parts.append(f"""a{k} AS MATERIALIZED (
  SELECT lhs, rhs, pair_count,
         row_number() OVER (ORDER BY pair_count DESC, lhs, rhs) AS br
  FROM (
    SELECT lhs, rhs, CAST(SUM(cnt) AS BIGINT) AS pair_count FROM (
      SELECT cnt,
        unnest(list_transform(range(1, len(syms)), i -> syms[i])) AS lhs,
        unnest(list_transform(range(1, len(syms)), i -> syms[i+1])) AS rhs
      FROM (SELECT cnt, list_filter(string_split(repr, {sep}), x -> x <> '')
              AS syms FROM r{k - 1}))
    GROUP BY lhs, rhs)
  ORDER BY pair_count DESC, lhs, rhs LIMIT {batch})""")
        mcols = ',\n    '.join(
            f"COALESCE(MAX(CASE WHEN br = {j} THEN lhs || {sep} || rhs END),"
            f" chr(1)) AS p{j},"
            f" COALESCE(MAX(CASE WHEN br = {j} THEN lhs || rhs END), '')"
            f" AS s{j}" for j in range(1, batch + 1))
        parts.append(f"m{k} AS MATERIALIZED (SELECT {mcols} FROM a{k})")
        applied = 'repr'
        for j in range(1, batch + 1):
            applied = f"replace({applied}, m.p{j}, m.s{j})"
        parts.append(f"r{k} AS MATERIALIZED (SELECT chunk, cnt, {applied}"
                     f" AS repr FROM r{k - 1}, m{k} m)")
    sql = 'WITH ' + ',\n'.join(parts)
    if final == 'merges':
        sel = '\nUNION ALL\n'.join(
            f"SELECT {k} AS rnd, br, lhs, rhs, lhs || rhs AS merged,"
            f" pair_count FROM a{k}" for k in range(1, rounds + 1))
        return sql + f""",
allm AS ({sel})
SELECT CAST(row_number() OVER (ORDER BY rnd, br) AS INT) AS merge_rank,
       lhs, rhs, merged, pair_count
FROM allm ORDER BY merge_rank"""
    tok_id = f"CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % {vocab}"
    return sql + f""",
dapp AS MATERIALIZED (
  SELECT c.doc_id, c.text, c.source,
         string_agg(r.repr, '' ORDER BY c.pos) AS applied
  FROM chunks c JOIN r{rounds} r ON r.chunk = c.chunk
  GROUP BY c.doc_id, c.text, c.source),
syms AS (SELECT doc_id, source, text, applied,
                list_filter(string_split(applied, {sep}), x -> x <> '')
                  AS toks FROM dapp)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_bpe,
       CAST(list_sum(list_transform(toks, t -> {tok_id})) AS BIGINT)
         AS tok_sum,
       CAST('0x' || substring(md5(toks[1]), 1, 8) AS BIGINT) % {vocab}
         AS tok_first,
       CAST('0x' || substring(md5(toks[-1]), 1, 8) AS BIGINT) % {vocab}
         AS tok_last,
       (replace(replace(applied, {sep}, ''), {eow}, ' ') = text || ' ')
         AS roundtrip,
       source
FROM syms"""


def _pii_scrub_sql() -> str:
    """Identical regexes (Java-regex ∩ RE2 common subset) and identical
    sequential replacement order as text.pii_scrub; DuckDB regexp_replace
    needs the explicit 'g' flag (Spark's is global by default)."""
    from changepoynt_spark.operators.text import PII_PATTERNS
    pats = dict(PII_PATTERNS)
    scrub = 't'
    for name, pat in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '<{name.upper()}>', 'g')"
    counts = ',\n           '.join(
        f"len(regexp_extract_all(t, '{pat}')) AS n_{name}"
        for name, pat in PII_PATTERNS)
    return f"""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.7 or +1 555 0100 ' || CAST(doc_id AS VARCHAR) AS t
      FROM documents)
    SELECT doc_id,
           {counts},
           md5({scrub}) AS scrubbed_hash
    FROM planted
    """


_CONTAMINATION_SQL = """
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                      generate_subscripts(string_split(text, ' '), 1) AS i
               FROM documents
               WHERE len(string_split(text, ' ')) >= 3),
sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
       FROM words a
       JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       JOIN words c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id IN (0, 1, 2, 3, 4)),
agg AS (SELECT sh.doc_id, COUNT(*) AS n_grams,
               COUNT(bench.s) AS n_hit
        FROM sh LEFT JOIN bench ON sh.s = bench.s
        WHERE sh.doc_id NOT IN (0, 1, 2, 3, 4)
        GROUP BY sh.doc_id)
SELECT doc_id, n_grams, n_hit,
       ROUND(n_hit * 1.0 / n_grams, 6) AS hit_ratio
FROM agg
"""


_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
           AS session_seq
  FROM flagged)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1e6 AS duration_sec
FROM sess GROUP BY user_id, session_seq
"""


_ASOF_JOIN_SQL = """
WITH readings AS (SELECT user_id, ts, event_id, ROUND(value, 6) AS value
                  FROM events WHERE event_id % 2 = 0),
markers AS (SELECT user_id, ts, arg_max(value, event_id) AS marker_value
            FROM events WHERE event_id % 2 = 1 GROUP BY user_id, ts)
SELECT r.user_id, r.ts, r.event_id, r.value,
       m.ts AS marker_ts, ROUND(m.marker_value, 6) AS marker_value
FROM readings r
ASOF LEFT JOIN markers m ON r.user_id = m.user_id AND r.ts >= m.ts
"""


_MIXTURE_SAMPLE_SQL = """
SELECT doc_id, source
FROM documents
WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8) AS BIGINT)
      % 1000000
      < CASE source WHEN 'src0' THEN 1000000
                    WHEN 'src1' THEN 250000
                    ELSE 500000 END
"""


def _fingerprints_sql(window: int = 8, base: int = 257,
                      mod: int = (1 << 61) - 1) -> str:
    """DuckDB mirror of text.fingerprint_documents: the Rabin-Karp M61 math
    runs in HUGEINT (128-bit) — byte*257^k products and their sums stay far
    below 2^127, so a single %mod per hash reproduces the kernel's folded
    modular arithmetic exactly (verified bit-identical at sf0.001/sf0.01).
    Bytes come from hex(encode(text)) (utf-8, same as the kernel's
    np.frombuffer of text.encode()); docs shorter than ``window`` are
    zero-padded to it, like the kernel."""
    pow_lits = [pow(base, window - 1 - j, mod) for j in range(window)]
    terms = ' + '.join(
        (f"CAST(byte AS HUGEINT) * CAST('{pow_lits[j]}' AS HUGEINT)" if j == 0 else
         f"CAST(lead(byte, {j}) OVER w AS HUGEINT) * CAST('{pow_lits[j]}' AS HUGEINT)")
        for j in range(window))
    off = 1 << 60
    return f"""
    WITH RECURSIVE b AS (
      SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n,
             GREATEST(octet_length(encode(text)), {window}) AS ne
      FROM documents
    ),
    idx AS (SELECT doc_id, hx, n, ne, unnest(generate_series(0, ne - 1)) AS i FROM b),
    bytes AS (
      SELECT doc_id, ne, i,
             CASE WHEN i < n THEN CAST('0x' || substring(hx, 2*i + 1, 2) AS BIGINT)
                  ELSE 0 END AS byte
      FROM idx
    ),
    pows(k, v) AS (
      SELECT 0, CAST(1 AS HUGEINT)
      UNION ALL
      SELECT k + 1, (v * {base}) % CAST('{mod}' AS HUGEINT) FROM pows
      WHERE k + 1 < (SELECT MAX(ne) FROM b)
    ),
    content AS (
      SELECT doc_id,
             CAST(SUM(CAST(byte AS HUGEINT) * p.v) % CAST('{mod}' AS HUGEINT) AS BIGINT)
             - {off} AS content_hash
      FROM bytes JOIN pows p ON p.k = bytes.ne - 1 - bytes.i
      GROUP BY doc_id
    ),
    sh AS (
      SELECT doc_id, i, ne, ({terms}) % CAST('{mod}' AS HUGEINT) AS h
      FROM bytes
      WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    minsh AS (
      SELECT doc_id, CAST(MIN(h) AS BIGINT) - {off} AS min_shingle_hash
      FROM sh WHERE i <= ne - {window} GROUP BY doc_id
    )
    SELECT content.doc_id, content_hash, min_shingle_hash
    FROM content JOIN minsh ON content.doc_id = minsh.doc_id
    """


def _simhash_sql() -> str:
    """DuckDB mirror of dedup.simhash at _SIMHASH_BITS.  64-bit notes:
    DuckDB's << is overflow-CHECKED even on UBIGINT, so the two md5 halves
    are assembled in HUGEINT and wrapped to the BIGINT bit pattern; (h >> b)
    & 1 is fill-agnostic, so DuckDB's arithmetic >> matches Spark's
    shiftrightunsigned here; bit 63 of the reconstruction is the BIGINT sign
    bit, added as -2^63 (the sum of bits 0..62 is < 2^63, so checked addition
    never overflows)."""
    votes = ', '.join(
        f'SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}'
        for b in range(_SIMHASH_BITS))
    recon = ' + '.join(
        f'CASE WHEN b{b} > 0 THEN CAST({-(2 ** 63) if b == 63 else 2 ** b} AS BIGINT)'
        f' ELSE CAST(0 AS BIGINT) END'
        for b in range(_SIMHASH_BITS))
    if _SIMHASH_BITS > 32:
        h_expr = """CAST(CASE WHEN v >= CAST('9223372036854775808' AS HUGEINT)
                         THEN v - CAST('18446744073709551616' AS HUGEINT)
                         ELSE v END AS BIGINT)"""
        hv = """SELECT doc_id,
                       CAST(CAST('0x' || substring(md5(w), 9, 8) AS BIGINT) AS HUGEINT)
                       * 4294967296
                       + CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) AS v
                FROM words"""
        h_cte = f"hv AS ({hv}), h AS (SELECT doc_id, {h_expr} AS h FROM hv)"
    else:
        h_cte = ("h AS (SELECT doc_id, CAST('0x' || substring(md5(w), 1, 8) AS BIGINT)"
                 " AS h FROM words)")
    return f"""
    WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    {h_cte},
    votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({recon} AS BIGINT) AS simhash FROM votes
    """


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _events_series(spark, sf_dir):
    from changepoynt_spark.functions.series import events_to_series
    return events_to_series(_read(spark, sf_dir, 'events'),
                            partitions=spark.sparkContext.defaultParallelism)


def _kernel_query(algorithm, params):
    def run(spark, sf_dir):
        from changepoynt_spark.operators.scoring import explode_scores, score_series
        scored = score_series(_events_series(spark, sf_dir), algorithm=algorithm,
                              params=params)
        return (explode_scores(scored)
                .select('doc_id', 'pos', F.round('score', 9).alias('score')))
    return run


def _multichannel_query(algorithm, params, min_len=40):
    def run(spark, sf_dir):
        from changepoynt_spark.operators.scoring import score_multichannel_series
        series = _events_series(spark, sf_dir).filter(f'n_tok >= {min_len}')
        two = series.select(
            'doc_id', 'source', 'n_tok',
            F.array(F.transform('tokens', lambda t: t.cast('double')),
                    F.transform(F.reverse('tokens'), lambda t: t.cast('double'))
                    ).alias('channels'))
        scored = score_multichannel_series(two, algorithm=algorithm, params=params)
        return scored.select('doc_id', F.posexplode('score').alias('pos', 'score')) \
                     .withColumn('score', F.round('score', 9))
    return run


def _rollup_1m(spark, sf_dir, exact_sum=False):
    from changepoynt_spark.operators.rollup import rollup_from_points
    ev = _read(spark, sf_dir, 'events')
    return rollup_from_points(ev, ['user_id'], ts_col='ts', value_col='value',
                              interval='1 minute', exact_sum=exact_sum)


def _rollup_tiers(spark, sf_dir):
    # DECIMAL base sums: cascade merges stay exact, so round-6 digits can
    # never flip vs the oracle's direct per-tier sums at any SF
    from changepoynt_spark.operators.rollup import rollup_from_rollup
    tier_1m = _rollup_1m(spark, sf_dir, exact_sum=True)
    tier_1h = rollup_from_rollup(tier_1m, ['user_id'], interval='1 hour')
    return {'1m': tier_1m, '1h': tier_1h,
            '1d': rollup_from_rollup(tier_1h, ['user_id'], interval='1 day')}


def _round_rollup(df):
    sum_d = F.col('sum_value').cast('double')
    return df.select('user_id', 'bucket_start', 'cnt_points',
                     F.round(sum_d, 6).alias('sum_value'),
                     'min_value', 'max_value',
                     F.round(sum_d / F.col('cnt_points'), 6).alias('avg_value'),
                     'first_value', 'last_value')


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from changepoynt_spark.operators import dedup, multimodal, rollup, similarity, text
    from changepoynt_spark.operators import window_ops

    def zero_baseline(spark, sf_dir):
        return window_ops.zero_score(_read(spark, sf_dir, 'events'))

    def mw(method):
        def run(spark, sf_dir):
            return window_ops.moving_window_score(_read(spark, sf_dir, 'events'),
                                                  window_length=8, method=method)
        return run

    def events_rollup_1m(spark, sf_dir):
        return _round_rollup(_rollup_1m(spark, sf_dir, exact_sum=True))

    def events_rollup_1h_cascade(spark, sf_dir):
        return _round_rollup(_rollup_tiers(spark, sf_dir)['1h'])

    def events_rollup_1d_cascade(spark, sf_dir):
        return _round_rollup(_rollup_tiers(spark, sf_dir)['1d'])

    def events_rollup_1h_global(spark, sf_dir):
        # cross-series tier: algebraic merge of the per-user 1m partials
        # (count/sum/min/max merge; first/last via min_by/max_by on ts).
        # DECIMAL sums through the merge: the partial-sum accumulation order
        # then cannot flip the round-6 digit vs the oracle's direct sum
        # (observed at sf0.1: 3 of 720 hourly averages landed on a rounding
        # boundary with plain double sums)
        from changepoynt_spark.operators.rollup import rollup_from_points, \
            rollup_from_rollup
        ev = _read(spark, sf_dir, 'events')
        tier_1m = rollup_from_points(ev, ['user_id'], ts_col='ts',
                                     value_col='value', interval='1 minute',
                                     exact_sum=True)
        merged = rollup_from_rollup(tier_1m, keys=[], interval='1 hour')
        sum_d = F.col('sum_value').cast('double')
        return merged.select('bucket_start', 'cnt_points',
                             F.round(sum_d, 6).alias('sum_value'),
                             'min_value', 'max_value',
                             F.round(sum_d / F.col('cnt_points'), 6).alias('avg_value'))

    def events_backfill_merge(spark, sf_dir):
        # incremental continuous-aggregate refresh: roll up "on-time" and
        # "late" halves separately, merge the partials, finalize — the
        # oracle is a FULL recompute over all events, so hash-green proves
        # incremental == full, cross-engine, with decimal-exact merge
        ev = _read(spark, sf_dir, 'events')
        on_time = ev.filter(F.pmod('event_id', F.lit(2)) == 0)
        late = ev.filter(F.pmod('event_id', F.lit(2)) == 1)
        pa = rollup.rollup_partial(on_time, ['user_id'], interval='1 minute')
        pb = rollup.rollup_partial(late, ['user_id'], interval='1 minute')
        merged = rollup.merge_rollup_partials(pa, pb, ['user_id'])
        return _round_rollup(rollup.finalize_rollup(merged, ['user_id']))

    def events_continuous_agg(spark, sf_dir):
        # TABLE-level continuous aggregate (sources/continuous.py): raw
        # events land in 3 snapshot appends; each refresh rolls up ONLY the
        # snapshot delta (IcebergishTable.read_delta) and appends a
        # merge-on-read partial tier snapshot, watermarked in snapshot
        # properties; the tier is compacted midway.  The oracle is a FULL
        # 1h rollup over all events — hash-green proves the
        # snapshot-watermark incremental path == full recompute,
        # cross-engine, through a compaction.
        import os as _os
        import tempfile
        from changepoynt_spark.sources.continuous import ContinuousAggregate
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events').select('user_id', 'ts', 'value')
        root = tempfile.mkdtemp(prefix='contagg-')
        raw = IcebergishTable(_os.path.join(root, 'raw'))
        ca = ContinuousAggregate(raw, _os.path.join(root, 'tier'),
                                 ['user_id'], interval='1 hour',
                                 partition_by=())
        for i in range(3):
            raw.append(ev.filter(F.pmod(F.xxhash64('user_id', 'ts'),
                                        F.lit(3)) == i), partition_by=())
            ca.refresh(spark)
            if i == 1:
                ca.compact(spark)
        return _round_rollup(ca.read(spark))

    def events_hier_continuous_agg(spark, sf_dir):
        # HIERARCHICAL continuous aggregates: the 1h tier refreshes from
        # the 1m TIER's snapshot deltas (rebucket_partials keeps the
        # partial form: decimal sums + first/last ts anchors), never
        # re-reading raw; a 1m tier-compaction mid-stream is tolerated
        # maintenance.  Oracle = direct 1h rollup over all events, so
        # hash-green proves raw -> 1m -> 1h incremental == one-shot.
        import os as _os
        import tempfile
        from changepoynt_spark.sources.continuous import ContinuousAggregate
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events').select('user_id', 'ts', 'value')
        root = tempfile.mkdtemp(prefix='hierca-')
        raw = IcebergishTable(_os.path.join(root, 'raw'))
        ca_1m = ContinuousAggregate(raw, _os.path.join(root, 't1m'),
                                    ['user_id'], interval='1 minute',
                                    partition_by=())
        ca_1h = ContinuousAggregate(ca_1m.tier, _os.path.join(root, 't1h'),
                                    ['user_id'], interval='1 hour',
                                    partition_by=(), source_kind='partial')
        for i in range(3):
            raw.append(ev.filter(F.pmod(F.xxhash64('user_id', 'ts'),
                                        F.lit(3)) == i), partition_by=())
            ca_1m.refresh(spark)
            ca_1h.refresh(spark)
            if i == 1:
                ca_1m.compact(spark)
        ca_1h.refresh(spark)
        return _round_rollup(ca_1h.read(spark))

    def events_tier_routed_6h(spark, sf_dir):
        # CONTINUOUS-AGGREGATE ROUTING (retention.route_tier/rollup_at,
        # the TimescaleDB/Druid query-rewrite step): a 6-hour aggregate is
        # served from the COARSEST stored tier that divides it — the 1h
        # tier, re-merging ~6 rows/key algebraically (asserted) — never the
        # 1m tier (~360 rows/key) and never raw.  Oracle = direct 6h
        # epoch-bucket rollup from raw events; hash-green proves the routed
        # cascade re-merge is exact at a resolution NO tier stores.
        from changepoynt_spark.operators import retention
        tiers = _rollup_tiers(spark, sf_dir)
        name, df = retention.rollup_at(tiers, ['user_id'], 6 * 3600)
        assert name == '1h', name
        return _round_rollup(df)

    def events_realtime_agg(spark, sf_dir):
        # REAL-TIME continuous aggregate (ContinuousAggregate.read_realtime,
        # TimescaleDB real-time aggregates): the tier is materialized
        # through the FIRST of three raw appends; the two unreflected
        # appends are merged on read as an on-the-fly partial over just
        # their snapshot delta (never re-aggregating reflected history).
        # Oracle = full 1h rollup over all events — hash-green proves
        # materialized-tier + delta-tail == full recompute, including the
        # watermark-straddling buckets (commutative-monoid partial merge).
        import os as _os
        import tempfile
        from changepoynt_spark.sources.continuous import ContinuousAggregate
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events').select('user_id', 'ts', 'value')
        root = tempfile.mkdtemp(prefix='rtagg-')
        raw = IcebergishTable(_os.path.join(root, 'raw'))
        ca = ContinuousAggregate(raw, _os.path.join(root, 'tier'),
                                 ['user_id'], interval='1 hour',
                                 partition_by=())
        for i in range(3):
            raw.append(ev.filter(F.pmod(F.xxhash64('user_id', 'ts'),
                                        F.lit(3)) == i), partition_by=())
            if i == 0:
                ca.refresh(spark)
        return _round_rollup(ca.read_realtime(spark))

    def tokens_continuous_agg(spark, sf_dir):
        # The NORTH-STAR pipeline as a DERIVED continuous aggregate:
        # pre-tokenized sequences (input_hint shape, md5 token variant so
        # the stream is engine-portable) land in 3 snapshot appends; each
        # refresh runs the row-local TRANSFORM (posexplode each doc's token
        # array into timestamped points) on ONLY the snapshot delta and
        # rolls it into a per-source 1m tier.  The first two batches are
        # materialized, the third is covered by the REALTIME read.  Oracle
        # = DuckDB tokenize + zipped-unnest + full GROUP BY; hash-green
        # proves transform-on-delta incremental + realtime tail == full
        # recompute, cross-engine.  (first/last anchors excluded: token
        # positions tie across docs, so those anchors are merge-order-
        # ambiguous by construction.)
        import os as _os
        import tempfile
        from changepoynt_spark.sources.continuous import ContinuousAggregate
        from changepoynt_spark.sources.tables import IcebergishTable
        toks = text.tokenize_documents(_read(spark, sf_dir, 'documents'),
                                       hash_fn='md5')

        from changepoynt_spark.operators.scoring import tokens_to_points

        def transform(df):
            return tokens_to_points(df, keys=('source',),
                                    epoch='2026-01-01')

        root = tempfile.mkdtemp(prefix='tokca-')
        raw = IcebergishTable(_os.path.join(root, 'raw'))
        ca = ContinuousAggregate(raw, _os.path.join(root, 'tier'),
                                 ['source'], interval='1 minute',
                                 partition_by=(), transform=transform)
        b = F.pmod(F.xxhash64('doc_id'), F.lit(3))
        for i in range(3):
            raw.append(toks.filter(b == i), partition_by=())
            if i < 2:
                ca.refresh(spark)
        sum_d = F.col('sum_value').cast('double')
        return ca.read_realtime(spark).select(
            'source', 'bucket_start', 'cnt_points',
            F.round(sum_d, 6).alias('sum_value'),
            'min_value', 'max_value',
            F.round(sum_d / F.col('cnt_points'), 6).alias('avg_value'))

    def events_pruned_scan(spark, sf_dir):
        # manifest-stats scan planning (IcebergishTable.plan_files/scan):
        # events land in 3 time-sliced snapshot appends hidden-partitioned
        # by event_type; the scan prunes files driver-side from per-file
        # parquet-footer min/max + partition values (pure metadata), reads
        # only survivors, and re-applies the exact predicate as a residual.
        # The oracle is a plain WHERE over all events — hash-green proves
        # pruning never drops a matching row.
        import datetime
        import os as _os
        import tempfile
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events')
        t = IcebergishTable(_os.path.join(tempfile.mkdtemp(prefix='prune-'), 'ev'))
        for lo, hi in ((1, 11), (11, 21), (21, 32)):
            t.append(ev.filter(F.dayofmonth('ts').between(lo, hi - 1)),
                     partition_by=('event_type',))
        preds = [('event_type', '=', 'click'),
                 ('ts', '>=', datetime.datetime(2024, 1, 25))]
        return (t.scan(spark, preds)
                 .select('event_id', 'ts', 'user_id', 'event_type',
                         F.round('value', 6).alias('value')))

    def events_mor_delete(spark, sf_dir):
        # MERGE-ON-READ equality deletes (IcebergishTable.delete_keys,
        # Iceberg v2 semantics): a purge list commits as key tuples only —
        # O(|keys|), never rewriting data — and read() anti-joins it against
        # rows of EARLIER snapshots, so the post-delete append re-inserting
        # rows for purged users SURVIVES (sequence-number semantics).  The
        # oracle states exactly that: slices 0,1 lose the purged users,
        # slice 2 keeps everything.
        import os as _os
        import tempfile
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events').select(
            'event_id', 'ts', 'user_id', 'event_type', 'value')
        t = IcebergishTable(_os.path.join(tempfile.mkdtemp(prefix='mordel-'), 'ev'))
        for i in (0, 1):
            t.append(ev.filter(F.pmod('event_id', F.lit(3)) == i),
                     partition_by=('event_type',))
        purge = (ev.filter(F.pmod('user_id', F.lit(11)) == 4)
                 .select('user_id').distinct())
        t.delete_keys(purge, ['user_id'], properties={'reason': 'corpus-purge'})
        t.append(ev.filter(F.pmod('event_id', F.lit(3)) == 2),
                 partition_by=('event_type',))
        return t.read(spark).select('event_id', 'ts', 'user_id', 'event_type',
                                    F.round('value', 6).alias('value'))

    def events_cow_delete(spark, sf_dir):
        # COPY-ON-WRITE predicate delete (IcebergishTable.delete_where):
        # manifest min/max stats confine the rewrite to the one time-sliced
        # snapshot the ts-range delete straddles; the others are untouched
        # (asserted) — O(straddling bytes), not O(table).  Oracle = plain
        # NOT-BETWEEN over all events.
        import datetime
        import os as _os
        import tempfile
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events').select(
            'event_id', 'ts', 'user_id', 'event_type', 'value')
        t = IcebergishTable(_os.path.join(tempfile.mkdtemp(prefix='cowdel-'), 'ev'))
        for lo, hi in ((1, 11), (11, 21), (21, 32)):
            t.append(ev.filter(F.dayofmonth('ts').between(lo, hi - 1)),
                     partition_by=())
        rep = t.delete_where(spark, [
            ('ts', '>=', datetime.datetime(2024, 1, 13)),
            ('ts', '<', datetime.datetime(2024, 1, 18))])
        assert rep['rewritten_snapshots'] == [1], rep   # stats-pruned rewrite
        return t.read(spark).select('event_id', 'ts', 'user_id', 'event_type',
                                    F.round('value', 6).alias('value'))

    def events_zorder_scan(spark, sf_dir):
        # Z-ORDER clustered write (zorder_key: quantile-bucketed Morton
        # interleave of user_id x ts) -> manifest min/max stats are narrow
        # on BOTH columns, so the two-dimensional predicate prunes files on
        # each dimension independently (asserted) — the multi-column
        # upgrade of events_pruned_scan.  Oracle = plain WHERE; hash-green
        # proves pruning keeps every matching row.
        import datetime
        import os as _os
        import tempfile
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events').select(
            'event_id', 'ts', 'user_id', 'event_type', 'value')
        t = IcebergishTable(_os.path.join(tempfile.mkdtemp(prefix='zord-'), 'ev'))
        t.append(ev, partition_by=(), zorder_by=['user_id', 'ts'], n_files=16)
        preds = [('user_id', '<=', 20),
                 ('ts', '>=', datetime.datetime(2024, 1, 22))]
        plan = t.plan_files(preds)
        assert plan['n_kept'] < plan['n_total'], plan   # pruning is real
        return t.scan(spark, preds).select(
            'event_id', 'ts', 'user_id', 'event_type',
            F.round('value', 6).alias('value'))

    def events_bloom_point_scan(spark, sf_dir):
        # Per-file BLOOM-filter point lookups (IcebergishTable bloom_cols,
        # Iceberg puffin-style): the write is deliberately UNCLUSTERED on
        # event_id, so every file's min/max spans ~the whole id domain and
        # footer stats cannot prune a point probe — the manifest blooms
        # answer "definitely not in this file" instead, keeping ~1 of 16
        # files per id (asserted).  This is the needle-in-100TB doc_id
        # lookup path.  Oracle = plain WHERE event_id IN (...); hash-green
        # proves bloom pruning never drops a matching row.
        import os as _os
        import tempfile
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events').select(
            'event_id', 'ts', 'user_id', 'event_type', 'value')
        t = IcebergishTable(_os.path.join(tempfile.mkdtemp(prefix='bloom-'), 'ev'))
        t.append(ev, partition_by=(), n_files=16, bloom_cols=['event_id'])
        ids = [3, 57, 400, 801]              # present at every SF (dense ids)
        preds = [('event_id', 'in', ids)]    # ONE scan for the needle set
        plan = t.plan_files(preds)
        # 4 unique ids live in <= 4 of 16 files; allow bloom false positives
        assert plan['n_total'] == 16 and plan['n_kept'] <= 8, plan
        return t.scan(spark, preds).select(
            'event_id', 'ts', 'user_id', 'event_type',
            F.round('value', 6).alias('value'))

    def events_partition_evolution(spark, sf_dir):
        # PARTITION-SPEC EVOLUTION (Iceberg: specs are per-snapshot): three
        # appends land under three different layouts — hidden-partitioned
        # by event_type, unpartitioned, hidden-partitioned by user_id — and
        # a predicate scan prunes each snapshot by ITS OWN spec (path
        # values where partitioned, footer stats where not).  Oracle =
        # plain WHERE over all events; hash-green proves the evolved table
        # reads as one table with nothing dropped or duplicated.
        import os as _os
        import tempfile
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events').select(
            'event_id', 'ts', 'user_id', 'event_type', 'value')
        t = IcebergishTable(_os.path.join(tempfile.mkdtemp(prefix='specev-'), 'ev'))
        t.append(ev.filter(F.pmod('event_id', F.lit(3)) == 0),
                 partition_by=('event_type',))
        t.append(ev.filter(F.pmod('event_id', F.lit(3)) == 1), partition_by=())
        t.append(ev.filter(F.pmod('event_id', F.lit(3)) == 2),
                 partition_by=('user_id',))
        preds = [('user_id', '<=', 7)]       # prunes at every SF (ids 0..14+)
        plan = t.plan_files(preds)
        assert plan['n_kept'] < plan['n_total'], plan
        return t.scan(spark, preds).select(
            'event_id', 'ts', 'user_id', 'event_type',
            F.round('value', 6).alias('value'))

    def events_schema_evolution(spark, sf_dir):
        # SCHEMA EVOLUTION (Iceberg add-column): the second append carries
        # a NEW column; rows from the first snapshot read it as NULL.  The
        # oracle restates exactly that with a CASE — hash-green proves the
        # evolved read is positionally exact, nulls included.
        import os as _os
        import tempfile
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events').select(
            'event_id', 'ts', 'user_id', 'event_type', 'value')
        t = IcebergishTable(_os.path.join(tempfile.mkdtemp(prefix='schev-'), 'ev'))
        t.append(ev.filter(F.pmod('event_id', F.lit(2)) == 0), partition_by=())
        t.append(ev.filter(F.pmod('event_id', F.lit(2)) == 1)
                   .withColumn('score', F.round(F.col('value') * 2, 6)),
                 partition_by=())
        return t.read(spark).select(
            'event_id', 'ts', 'user_id', 'event_type',
            F.round('value', 6).alias('value'),
            F.round('score', 6).alias('score'))

    def events_rollback_fork(spark, sf_dir):
        # SNAPSHOT ROLLBACK (Iceberg rollback: one atomic version-hint
        # flip, zero data movement at any scale): slices 0,1 land, the
        # table rolls back to snapshot 0 (slice 1 becomes an unreachable
        # orphan whose id is never reused), then slice 2 appends on the
        # FORKED lineage.  Oracle = slices 0 and 2 only; hash-green proves
        # the rolled-back rows are invisible and the fork is clean.
        import os as _os
        import tempfile
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events').select(
            'event_id', 'ts', 'user_id', 'event_type', 'value')
        t = IcebergishTable(_os.path.join(tempfile.mkdtemp(prefix='rollb-'), 'ev'))
        for i in (0, 1):
            t.append(ev.filter(F.pmod('event_id', F.lit(3)) == i),
                     partition_by=())
        rep = t.rollback(0)
        assert rep['orphaned'] == [1], rep
        t.append(ev.filter(F.pmod('event_id', F.lit(3)) == 2), partition_by=())
        lineage = [s['snapshot_id'] for s in t.history()]
        assert lineage == [0, 2], lineage
        return t.read(spark).select(
            'event_id', 'ts', 'user_id', 'event_type',
            F.round('value', 6).alias('value'))

    def events_upsert_merge(spark, sf_dir):
        # Atomic MERGE INTO (IcebergishTable.upsert, Iceberg v2 row delta):
        # ONE logical commit that doubles the value of every event_id%5==0
        # row (update via merge-on-read equality delete) and inserts the
        # same corpus' %5==1 rows under offset ids — two snapshots on disk,
        # one version-hint flip.  The oracle is the CASE/UNION restatement;
        # hash-green proves update+insert+read-path equivalence.
        import os as _os
        import tempfile
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events').select(
            'event_id', 'ts', 'user_id', 'event_type', 'value')
        t = IcebergishTable(_os.path.join(tempfile.mkdtemp(prefix='upsert-'), 'ev'))
        t.append(ev, partition_by=('event_type',))
        merged = (ev.filter(F.pmod('event_id', F.lit(5)) == 0)
                    .withColumn('value', F.col('value') * 2)
                  .unionByName(
                      ev.filter(F.pmod('event_id', F.lit(5)) == 1)
                        .withColumn('event_id',
                                    F.col('event_id') + F.lit(10_000_000))))
        t.upsert(merged, ['event_id'], partition_by=('event_type',))
        return t.read(spark).select('event_id', 'ts', 'user_id', 'event_type',
                                    F.round('value', 6).alias('value'))

    def events_gapfill_1m(spark, sf_dir):
        tier = _rollup_1m(spark, sf_dir)
        filled = rollup.gap_fill(tier, keys=['user_id'], interval_seconds=60, method='null')
        return filled.groupBy('user_id').agg(
            F.count('*').alias('n_buckets'),
            F.sum(F.col('is_gap').cast('long')).alias('n_gaps'))

    def doc_token_counts(spark, sf_dir):
        return text.token_counts(_read(spark, sf_dir, 'documents'))

    def doc_quality_stats(spark, sf_dir):
        return text.quality_stats(_read(spark, sf_dir, 'documents'))

    def doc_quality_flags(spark, sf_dir):
        return text.quality_filter_flags(_read(spark, sf_dir, 'documents'))

    def doc_language_counts(spark, sf_dir):
        return text.language_counts(_read(spark, sf_dir, 'documents'))

    def doc_exact_dups(spark, sf_dir):
        return dedup.exact_dup_groups(_read(spark, sf_dir, 'documents'))

    def doc_repeated_passages(spark, sf_dir):
        # Lee-et-al-style exact substring dedup, 10-word-window variant:
        # passages shared by >=2 distinct docs.  Postings are (int64, int64)
        # only — the window strings are hashed before the explode's shuffle.
        return dedup.repeated_passages(_read_spread(spark, sf_dir, 'documents'), n=10)

    def doc_prefix_dups(spark, sf_dir):
        docs = _read(spark, sf_dir, 'documents')
        prefix = F.concat_ws(' ', F.slice(F.split('text', ' '), 1, 8))
        return (docs.groupBy(F.md5(prefix).alias('prefix_hash'))
                    .agg(F.count('*').alias('n_dups'), F.min('doc_id').alias('min_doc_id'))
                    .filter(F.col('n_dups') > 1))

    def ngram_jaccard_dups(spark, sf_dir):
        # df_cap=50 sits above the corpus' max shingle document frequency
        # (7 at sf0.01, 25 at sf0.1 — so results are exact here) while
        # bounding the self-join fan-out against boilerplate shingles at scale
        return dedup.ngram_jaccard_pairs(_read_spread(spark, sf_dir, 'documents'),
                                         n=3, threshold=0.5, df_cap=50)

    def doc_split_counts(spark, sf_dir):
        from changepoynt_spark.operators import packing
        split = packing.split_by_hash(_read(spark, sf_dir, 'documents'), val_pct=10)
        return split.groupBy('split').agg(F.count('*').alias('n_docs'))

    def doc_top_words(spark, sf_dir):
        docs = _read(spark, sf_dir, 'documents')
        words = docs.select(F.explode(F.split('text', ' ')).alias('w'))
        return (words.groupBy('w').agg(F.count('*').alias('n'))
                     .orderBy(F.col('n').desc(), 'w').limit(50))

    def doc_quality_model(spark, sf_dir):
        # learned quality filter: seeded linear model over hashed word
        # features (the deterministic stand-in for trained weights)
        import numpy as np
        w = np.random.default_rng(31).standard_normal(256)
        scored = text.quality_score_linear(_read_spread(spark, sf_dir, 'documents'),
                                           list(w), bias=0.0, threshold=0.5)
        return scored.select('doc_id', 'n_words', 'quality_score', 'keep')

    def doc_lexical_diversity(spark, sf_dir):
        return text.lexical_diversity(_read(spark, sf_dir, 'documents'))

    def events_rollup_1h_distinct_users(spark, sf_dir):
        # exact per-hour distinct-user tier: the two-phase distinct
        # aggregate (partial dedup map-side, merge on the bucket key)
        ev = _read(spark, sf_dir, 'events')
        return (ev.groupBy(F.window('ts', '1 hour').alias('w'))
                  .agg(F.count_distinct('user_id').alias('n_users'),
                       F.count('*').alias('n_events'))
                  .select(F.col('w.start').alias('bucket_start'),
                          'n_users', 'n_events'))

    def doc_hash_embeddings(spark, sf_dir):
        # feature-hashing text embedder, flattened to scalar rows for the
        # cross-engine hash compare (arrays stringify differently per engine)
        emb = text.hash_embed(_read(spark, sf_dir, 'documents'), dim=64)
        return emb.select('doc_id', 'norm',
                          F.posexplode('embedding').alias('i', 'v'))

    def doc_semantic_topk(spark, sf_dir):
        # text -> hash embedding -> exact cosine top-k, all in-engine: the
        # ANN bridge when no model embeddings exist.  Query = doc 0's vector.
        emb = text.hash_embed(_read(spark, sf_dir, 'documents'), dim=64)
        qvec = emb.filter('doc_id = 0').select('embedding').first()[0]
        return similarity.cosine_topk(emb.filter('doc_id <> 0'), qvec, k=10,
                                      id_col='doc_id')

    def events_dd_quantiles_1h(spark, sf_dir):
        # mergeable log-bucket quantile tier (DDSketch-style): p50/p95/p99
        # per global hour read from the histogram walk — integer-exact
        # except one exp per estimate (round-6)
        tier = rollup.dd_sketch_from_points(_read(spark, sf_dir, 'events'),
                                            [], interval='1 hour')
        return rollup.dd_sketch_quantiles(tier, [])

    def events_ca_dd_quantiles_1d(spark, sf_dir):
        # CONTINUOUS AGGREGATE over a NON-ALGEBRAIC metric: percentiles
        # cannot merge, the DDSketch-style log-bucket histogram can — the
        # CA machinery (snapshot-delta refresh, merge-on-read, realtime
        # tail) runs unchanged on the sketch monoid (agg_form='dd').  Two
        # of three raw appends are materialized; the third rides the
        # realtime read.  Oracle = the DD bucket walk over ALL events at 1d
        # — hash-green proves incremental sketch + realtime tail == one
        # pass, cross-engine, at the quantile level.
        import os as _os
        import tempfile
        from changepoynt_spark.sources.continuous import ContinuousAggregate
        from changepoynt_spark.sources.tables import IcebergishTable
        ev = _read(spark, sf_dir, 'events').select('ts', 'value')
        root = tempfile.mkdtemp(prefix='ddca-')
        raw = IcebergishTable(_os.path.join(root, 'raw'))
        ca = ContinuousAggregate(raw, _os.path.join(root, 'tier'), [],
                                 interval='1 day', partition_by=(),
                                 agg_form='dd')
        b = F.pmod(F.xxhash64('ts', 'value'), F.lit(3))
        for i in range(3):
            raw.append(ev.filter(b == i), partition_by=())
            if i < 2:
                ca.refresh(spark)
        return rollup.dd_sketch_quantiles(ca.read_realtime(spark), [])

    def events_sketch_users_1d(spark, sf_dir):
        # rows-only: Datasketches HLL estimates have no DuckDB twin (its
        # approx_count_distinct is a different sketch).  The strong check is
        # pytest: the 1h->1d cascaded sketch is BIT-identical to sketching
        # raw points directly, and relative error vs exact is <= 5%
        # (tests/test_rollup.py).
        ev = _read(spark, sf_dir, 'events')
        hourly = rollup.sketch_rollup(ev, [], 'user_id', interval='1 hour')
        daily = rollup.sketch_rollup_merge(hourly, [], interval='1 day')
        return rollup.sketch_estimate(daily, [])

    def events_twa_1h(spark, sf_dir):
        # time-weighted average tier (LOCF integral over covered time) — the
        # irregular-telemetry summary plain AVG gets wrong.  exact=True: the
        # oracle bit-compares the DECIMAL integral + covered time (the
        # sufficient statistics); the double ratio is presentation (the
        # decimal->double conversion itself differs by 1 ulp across engines)
        out = rollup.time_weighted_avg(_read(spark, sf_dir, 'events'),
                                       ['user_id'], interval_seconds=3600,
                                       exact=True)
        # fixed-scale STRING on both sides: DuckDB's pandas bridge degrades
        # DECIMAL to float64, so the exact compare rides the string form
        return out.withColumn('integral', F.col('integral').cast('string'))

    def events_lttb_600(spark, sf_dir):
        # DuckDB-oracled (round 5): the engine-exact integer-quantized LTTB
        # selection replays as a recursive CTE (_lttb_sql).  At test SFs the
        # 66-point series pass through whole (n <= 600), which the oracle
        # asserts byte-for-byte; events_lttb_20 exercises the triangle math.
        from changepoynt_spark.operators.window_ops import lttb_downsample
        return lttb_downsample(_read(spark, sf_dir, 'events'), ['user_id'],
                               n_out=600)

    def events_lttb_20(spark, sf_dir):
        # real downsampling at test scale: 66-point series -> 20 shape-
        # preserving points; chosen indices bit-match the recursive-CTE
        # oracle (sequential bucket-anchor recurrence on integer-quantized
        # coordinates — see lttb_downsample's engine-exactness note)
        from changepoynt_spark.operators.window_ops import lttb_downsample
        return lttb_downsample(_read(spark, sf_dir, 'events'), ['user_id'],
                               n_out=20)

    def doc_top_words_mg(spark, sf_dir):
        # same answer as doc_top_words, computed the 100 TB way: per-
        # partition Misra-Gries summaries prune the exchange to ~256
        # candidates + an exact broadcast recount (the naive top-k shuffles
        # EVERY distinct item).  Oracle == the naive SQL, which is the
        # equality proof.
        from changepoynt_spark.operators.frequent import heavy_hitters
        words = (_read(spark, sf_dir, 'documents')
                 .select(F.explode(F.split('text', ' ')).alias('w')))
        return (heavy_hitters(words, 'w', k=20, candidate_k=256)
                .withColumnRenamed('item', 'w').withColumnRenamed('cnt', 'n'))

    def corpus_report_by_source(spark, sf_dir):
        return text.corpus_report(_read(spark, sf_dir, 'documents'))

    def events_changepoint_segments(spark, sf_dir):
        # scores -> changepoints -> SEGMENTS: the downstream table every
        # changepoint consumer wants (the reference stops at scores).
        # Driven by the SQL-expressible moving-window score so the WHOLE
        # chain is DuckDB-oracled end to end.
        s = window_ops.moving_window_score(_read(spark, sf_dir, 'events'),
                                           window_length=8, method='meanvar')
        seg = window_ops.score_segments(s, threshold=2000.0, min_distance=8)
        # round-3 on the MEAN (not the addends): the scores are near-dyadic
        # rationals, so any fixed-dp quantization of the addends lands on
        # rounding-tie boundaries systematically (HALF_UP vs exact-binary
        # divergence); the mean, divided by arbitrary segment sizes, is not
        # dyadic and a 1e-9 sum-order wobble cannot flip its 3rd decimal
        return seg.withColumn('mean_score', F.round('mean_score', 3))

    def sst_changepoint_segments(spark, sf_dir):
        # flagship composition, rows-only (SST scores are not
        # SQL-expressible; the segmentation layer itself IS oracled via
        # events_changepoint_segments): kernel scores -> peak picking ->
        # per-series segments, all native window expressions downstream of
        # the Arrow kernel
        from changepoynt_spark.operators.scoring import explode_scores, score_series
        scored = score_series(_events_series(spark, sf_dir), algorithm='sst',
                              params={'window_length': 10, 'n_windows': 10,
                                      'lag': 3, 'rank': 2, 'method': 'ika'})
        s = explode_scores(scored).select(
            'doc_id', F.col('pos').alias('rn'), 'score')
        return window_ops.score_segments(s, key_col='doc_id', threshold=0.2,
                                         min_distance=20)

    def corpus_curation_funnel(spark, sf_dir):
        # the WHOLE curation pipeline as one query: quality gate ->
        # normalized exact dedup -> contamination gate, with per-stage
        # admit/drop counts.  Sequential semantics; all integers.
        return text.corpus_funnel(_read_spread(spark, sf_dir, 'documents'),
                                  benchmark_ids=[0, 1, 2, 3, 4], n=3)

    def corpus_mixture_epochs(spark, sf_dir):
        from changepoynt_spark.operators.packing import mixture_epochs
        return mixture_epochs(_read(spark, sf_dir, 'documents'),
                              rates=_MIX_EPOCH_RATES)

    def doc_chunks(spark, sf_dir):
        # fixture docs are 10-99 words; 40/10 windows exercise real
        # multi-chunk splits (1-3 chunks per doc) at every SF
        return text.chunk_documents(_read(spark, sf_dir, 'documents'),
                                    chunk_words=40, overlap=10)

    def doc_search_bm25_indexed(spark, sf_dir):
        # BM25 answered FROM the inverted index (postings of the query
        # terms only) — bit-identical to the scan path, same oracle
        docs = _read_spread(spark, sf_dir, 'documents')
        index = text.build_inverted_index(docs)
        dl = docs.select('doc_id', F.size(F.split('text', ' ')).alias('dl'))
        return text.bm25_from_index(index, dl, _BM25_TERMS, k=20)

    def events_anomaly_flags(spark, sf_dir):
        # rolling median/MAD robust z-score — exact element picks + one
        # interpolating mean per window -> cross-engine deterministic
        out = window_ops.robust_anomaly_flags(_read(spark, sf_dir, 'events'),
                                              ['user_id'], window=21, k=3.5)
        return out.select('user_id', 'ts', 'value', 'med', 'mad', 'is_anomaly')

    def events_holt_1h(spark, sf_dir):
        # Holt linear exponential smoothing + 12-step forecast over the
        # global hourly tier: the sequential recursion is re-quantized to
        # 1e-6 each step (floor-based q6 — neither engine's round() is
        # used), so the DuckDB recursive-CTE twin stepping the same
        # expression shapes is digit-exact for the whole fit AND the
        # forecast horizon (the LTTB oracle pattern, applied to state
        # recursion instead of bucket argmax).
        from changepoynt_spark.operators.forecast import holt_forecast
        ev = _read(spark, sf_dir, 'events')
        tier = (ev.groupBy(F.window('ts', '1 hour').alias('w'))
                  .agg(F.round(F.sum(F.col('value').cast('decimal(18,6)'))
                               .cast('double') / F.count('value'), 6)
                       .alias('value'))
                  .select(F.col('w.start').alias('ts'), 'value'))
        return holt_forecast(tier, [], alpha=0.5, beta=0.25, horizon=12)

    def events_xcorr_types(spark, sf_dir):
        # lead-lag CROSS-correlation between two series of the hourly tier
        # (does 'click' lead 'view'?): Pearson corr of (a[t], b[t+lag]) for
        # lags -3..3, decimal-exact moment sums, one fixed-shape double
        # correlation — digit-exact cross-engine
        ev = _read(spark, sf_dir, 'events')
        tier = (ev.groupBy('event_type', F.window('ts', '1 hour').alias('w'))
                  .agg(F.round(F.sum(F.col('value').cast('decimal(18,6)'))
                               .cast('double') / F.count('value'), 6)
                       .alias('value'))
                  .select('event_type', F.col('w.start').alias('ts'), 'value'))
        return window_ops.cross_correlation(tier, 'event_type', 'click',
                                            'view', lags=range(-3, 4))

    def events_seasonal_24h(spark, sf_dir):
        # classical additive seasonal decomposition (statsmodels
        # seasonal_decompose's moving-average method) over the global
        # hourly tier, period 24: trend = 2x24 centered MA (decimal
        # numerators), seasonal = centered per-phase mean of the detrended
        # series (int64 micro-unit sums end to end, so even the cross-phase
        # centering constant is order-free), resid = the rest.  Oracle
        # mirrors every fixed-shape expression; hash-green proves the whole
        # decomposition digit-for-digit cross-engine.
        ev = _read(spark, sf_dir, 'events')
        tier = (ev.groupBy(F.window('ts', '1 hour').alias('w'))
                  .agg(F.round(F.sum(F.col('value').cast('decimal(18,6)'))
                               .cast('double') / F.count('value'), 6)
                       .alias('value'))
                  .select(F.col('w.start').alias('ts'), 'value'))
        return window_ops.seasonal_decompose(tier, [], period=24)

    def events_autocorr(spark, sf_dir):
        out = window_ops.rolling_autocorr(_read(spark, sf_dir, 'events'),
                                          ['user_id'], lag=1, window=30)
        return out.select('user_id', 'ts', 'n_pairs',
                          F.round('autocorr', 6).alias('autocorr'))

    def events_score_percentiles(spark, sf_dir):
        # per-key score calibration: percent_rank is (rank-1)/(n-1) —
        # integer-derived, bit-exact; the cross-series comparable form of
        # raw change scores (scores are scale-dependent per series)
        from pyspark.sql import Window
        s = window_ops.moving_window_score(_read(spark, sf_dir, 'events'),
                                           window_length=8, method='meanvar')
        w = Window.partitionBy('user_id').orderBy('score', 'rn')
        # FULL-precision score on purpose: the underlying doubles are
        # bit-identical cross-engine (the moving_window contract proves it),
        # while ROUND itself diverges on exact-tie dyadic values
        return s.select('user_id', 'rn', 'score',
                        F.percent_rank().over(w).alias('score_pctile'))

    def events_moments_1d(spark, sf_dir):
        # per-bucket distribution profile (skewness/excess kurtosis) from
        # DECIMAL-exact power sums -> bit-identical cross-engine
        # GLOBAL daily buckets: per-user hourly cells are 1-2 points in the
        # fixture (degenerate); cross-series daily cells have real spread
        return rollup.moments_rollup(_read(spark, sf_dir, 'events'),
                                     [], interval='1 day')

    def events_sax_1h(spark, sf_dir):
        # SAX symbolization: per-user series -> hourly PAA frames -> letters
        # (time series become token strings; Lin/Keogh 2003).  DECIMAL-exact
        # frame/series sums -> cross-engine-identical z and symbols.
        return rollup.sax_rollup(_read(spark, sf_dir, 'events'), ['user_id'],
                                 interval='1 hour', alphabet=4)

    def events_sax_words_1h(spark, sf_dir):
        # sliding 4-frame SAX words (motif tokens) over the hourly symbol
        # sequence; complete contiguous windows only.  GLOBAL series, the
        # moments-query pattern: per-user hourly frames are sparse in the
        # fixture, so per-user contiguous 4-frame runs barely exist
        sax = rollup.sax_rollup(_read(spark, sf_dir, 'events'), [],
                                interval='1 hour', alphabet=4)
        return rollup.sax_words(sax, [], w=4, frame_sec=3600)

    def events_sax_words_nr_1h(spark, sf_dir):
        # numerosity-reduced word stream (Lin/Keogh 2003 §4): consecutive
        # identical words collapse to first occurrence, so flat stretches
        # stop dominating downstream word-set operators
        sax = rollup.sax_rollup(_read(spark, sf_dir, 'events'), [],
                                interval='1 hour', alphabet=4)
        return rollup.sax_words(sax, [], w=4, frame_sec=3600, numerosity=True)

    def events_sax_motifs(spark, sf_dir):
        # SAX motif candidates (Lin/Keogh 2002, the dual of the discords):
        # the k MOST frequent words in the numerosity-reduced stream mark
        # recurring symbol patterns; first/last frame delimit where the
        # pattern lives
        sax = rollup.sax_rollup(_read(spark, sf_dir, 'events'), [],
                                interval='1 hour', alphabet=4)
        words = rollup.sax_words(sax, [], w=4, frame_sec=3600,
                                 numerosity=True)
        return rollup.sax_motifs(words, [], k=20)

    def events_sax_motif_pairs(spark, sf_dir):
        # exact-distance motif VERIFICATION (Lin/Keogh step 2): for each
        # top-10 candidate word, the closest NON-OVERLAPPING occurrence
        # pair by true Euclidean distance of the z-normalized PAA windows —
        # computed wholly in int64 micro-units (z is 6-decimal exact), so
        # the argmin is bit-deterministic cross-engine
        sax = rollup.sax_rollup(_read(spark, sf_dir, 'events'), [],
                                interval='1 hour', alphabet=4)
        return rollup.sax_motif_verify(sax, [], w=4, frame_sec=3600, k=10)

    def events_sax_discords(spark, sf_dir):
        # HOT SAX candidate ordering: the k globally rarest SAX words mark
        # the most anomalous stretches of the series (Keogh 2005's outer
        # loop, exposed as the operator)
        sax = rollup.sax_rollup(_read(spark, sf_dir, 'events'), [],
                                interval='1 hour', alphabet=4)
        words = rollup.sax_words(sax, [], w=4, frame_sec=3600)
        return rollup.sax_discords(words, [], k=20)

    def events_sax_type_dups(spark, sf_dir):
        # near-duplicate SERIES by SAX-word-set Jaccard ('which streams
        # tell the same story') — event_type series are dense per hour, so
        # the word sets are substantial at fixture scale
        sax = rollup.sax_rollup(_read(spark, sf_dir, 'events'), ['event_type'],
                                interval='1 hour', alphabet=4)
        words = rollup.sax_words(sax, ['event_type'], w=4, frame_sec=3600)
        return rollup.sax_series_dups(words, 'event_type', threshold=0.0)

    def doc_unigram_ppl(spark, sf_dir):
        # CCNet-style perplexity triage under the corpus's own unigram LM;
        # per-word logprobs round-6-quantized to DECIMAL once (vocab-sized),
        # per-doc totals exact decimal sums -> order-independent
        return text.unigram_logprob(_read_spread(spark, sf_dir, 'documents'))

    def doc_dsir_weights(spark, sf_dir):
        # DSIR importance resampling weights toward the src0-2 slice as the
        # target distribution (hashed unigram features, add-one smoothing)
        return text.dsir_importance(_read_spread(spark, sf_dir, 'documents'),
                                    ('src0', 'src1', 'src2'), dim=64)

    def doc_normalize(spark, sf_dir):
        return text.normalize_text(_read(spark, sf_dir, 'documents'))

    def doc_repetition_stats(spark, sf_dir):
        return text.repetition_stats(_read_spread(spark, sf_dir, 'documents'),
                                     n_top=2, n_dup=5)

    def doc_search_bm25(spark, sf_dir):
        return text.bm25_search(_read_spread(spark, sf_dir, 'documents'),
                                _BM25_TERMS, k=20)

    def doc_pack_stats(spark, sf_dir):
        # rows-only: pack composition depends on partitioning; invariants
        # (exactly-once, budget) are pytest-asserted (tests/test_packing.py)
        from changepoynt_spark.operators import packing, text
        toks = text.tokenize_documents(_read(spark, sf_dir, 'documents'))
        packs = packing.pack_sequences(toks, budget=2048)
        return packs.select('pack_id', 'n_docs', 'total_tok', 'oversize')

    def doc_dedup_ranges(spark, sf_dir):
        # exact-substring dedup (Lee et al. 2022): MAXIMAL cross-document
        # duplicated word ranges per doc, via duplicated-window postings +
        # gaps-and-islands merge — the one dedup modality between whole-doc
        # and fixed-n-gram granularity
        return dedup.dedup_ranges(_read_spread(spark, sf_dir, 'documents'),
                                  n=10, min_docs=2)

    def doc_decontaminate_ranges(spark, sf_dir):
        # exact-substring DECONTAMINATION (round 8): maximal word ranges of
        # corpus docs that appear verbatim in a benchmark set (here: the
        # lexicographically-first source plays the benchmark, the rest the
        # corpus).  Corpus postings ride one exchange; the benchmark's
        # distinct window hashes BROADCAST into an ids-only semi join — at
        # 100 TB the corpus never shuffles against the benchmark.
        docs = _read_spread(spark, sf_dir, 'documents')
        bench_src = docs.agg(F.min('source')).first()[0]
        corpus = docs.filter(F.col('source') != F.lit(bench_src))
        benchmark = docs.filter(F.col('source') == F.lit(bench_src))
        return dedup.decontaminate_ranges(corpus, benchmark, n=10)

    def doc_decontaminated_clean(spark, sf_dir):
        # the SCRUB step composed end-to-end: find verbatim benchmark
        # spans (decontaminate_ranges), then EXCISE exactly those words —
        # clean corpus docs pass through byte-identical, contaminated ones
        # lose only the leaked ranges.  The excision is a map-only
        # higher-order-function pass (no Python, no explode).
        docs = _read_spread(spark, sf_dir, 'documents')
        bench_src = docs.agg(F.min('source')).first()[0]
        corpus = docs.filter(F.col('source') != F.lit(bench_src))
        benchmark = docs.filter(F.col('source') == F.lit(bench_src))
        ranges = dedup.decontaminate_ranges(corpus, benchmark, n=10)
        return dedup.excise_ranges(corpus, ranges)

    def doc_dup_clusters(spark, sf_dir):
        # connected components over the exact n-gram Jaccard pair graph:
        # cluster_id = smallest reachable doc id (canonical representative).
        # CONTRACT DEFAULT IS THE STAR-CONTRACTION VARIANT (round 6,
        # VERDICT r5 next-round #4): O(log^2 n) rounds on any graph where
        # min-label propagation needs diameter rounds, and empirically the
        # stabler wall (propagation was the suite's most GC-sensitive query)
        pairs = dedup.ngram_jaccard_pairs(_read_spread(spark, sf_dir, 'documents'),
                                          n=3, threshold=0.5, df_cap=50)
        return dedup.dup_clusters_star(pairs)

    def doc_dup_clusters_prop(spark, sf_dir):
        # same pair graph, min-label propagation CC (the former contract
        # default; diameter-bounded rounds) — must produce the identical
        # clustering, and the same recursive-CTE oracle proves it
        # cross-engine
        pairs = dedup.ngram_jaccard_pairs(_read_spread(spark, sf_dir, 'documents'),
                                          n=3, threshold=0.5, df_cap=50)
        return dedup.dup_clusters(pairs)

    def doc_simhash(spark, sf_dir):
        return dedup.simhash(_read_spread(spark, sf_dir, 'documents'),
                             bits=_SIMHASH_BITS)

    def embedding_topk_cosine(spark, sf_dir):
        emb = _read(spark, sf_dir, 'embeddings')
        emb = emb.withColumn('embedding',
                             F.transform('embedding', lambda x: x.cast('double')))
        qvec = emb.filter('vec_id = 0').select('embedding').first()[0]
        return similarity.cosine_topk(emb.filter('vec_id <> 0'), qvec, k=10)

    def lineitem_pricing_summary(spark, sf_dir):
        _register(spark, sf_dir, 'lineitem')
        return spark.sql(_Q1_SQL)

    def nation_revenue(spark, sf_dir):
        _register(spark, sf_dir, 'orders', 'customer', 'nation')
        return spark.sql(_NATION_REVENUE_SQL)

    # ---- rows-only (non-SQL-expressible; bit-golden-checked in tests/) ----
    #
    # Per-query infeasibility rationale (why no DuckDB oracle):
    # - *_scores (sst/esst/msst/messt/rulsif/ulsif/fluss/bocpd): iterative
    #   numerical kernels (Lanczos/SVD/density-ratio CV/matrix profile /
    #   O(T^2) posterior recursion) — not expressible in SQL; each is
    #   bit-matched against the frozen numpy-oracle goldens AND Spark==oracle
    #   bitmatch tests (tests/test_spark_scoring.py, tests/test_goldens.py).
    # - scored_rollup_compressed: output columns are Gorilla/delta-of-delta
    #   BLOBS — SQL cannot produce the bitstreams; codec byte-identity is
    #   frozen in tests/goldens/codec_blobs_frozen.npz and the fused values
    #   equal the (oracled) generic cascade per tests/test_fused.py.
    # - doc_pack_stats: bin-packing composition legitimately depends on the
    #   partitioning (per-partition FFD); the exactly-once + budget
    #   invariants are asserted in tests/test_packing.py instead.
    # (retention_report moved to the oracled set in round 5: the fused
    # rollup's bucket geometry is positional, so the dry-run counts reduce
    # to integer date arithmetic — no score values involved.)
    # (events_lttb_600 + events_lttb_20 moved to the oracled set in round 5:
    # the kernel's selection math is integer-quantized and engine-exact, so
    # the sequential anchor recurrence replays as a DuckDB recursive CTE.)
    # (embedding_cosine_dups moved to the oracled set in round 4: all eight
    # tables' seeded planes are embedded as SQL literals — the same
    # technique as embedding_lsh_topk — so candidates AND the cosine verify
    # agree exactly; the recall >= 0.9 assertion vs brute force remains in
    # tests/test_similarity_text.py.)
    # - multimodal_*: binary-payload plans and features.  ALL THREE decodes
    #   are REAL numpy parsers as of round 5 — image (PPM), audio
    #   (WAV/PCM16), video (uncompressed RIFF/AVI) — features are
    #   content-derived and pytest-asserted against driver-side re-decodes.
    #   Rows-only: SQL cannot decode rasters/waveforms/DIB frames.
    # (gap_fill_linear_values moved to the oracled set in round 3: the round-2
    # twin was unsound because RAW double sums made the tier averages
    # order-dependent; with DECIMAL-exact sums cast to double the tier is
    # deterministic, and the lerp itself is bit-identical IEEE binary64 in
    # both engines, so the oracle compares FULL-precision doubles, no ROUND.)

    def scored_rollup_compressed(spark, sf_dir):
        # fused zero-shuffle path: scores + tiers + gorilla blocks in one
        # mapInPandas pass (value-identical to the generic cascade,
        # tests/test_fused.py)
        from changepoynt_spark.operators.fused import score_rollup
        blocks = score_rollup(_events_series(spark, sf_dir), algorithm='sst',
                              params={'window_length': 10, 'n_windows': 10, 'lag': 3,
                                      'rank': 2, 'method': 'ika'}, output='blocks')
        return blocks.select('doc_id', 'tier', 'block_start', 'n_points',
                             F.length('ts_blob').alias('ts_bytes'),
                             F.length('value_blob').alias('value_bytes'))

    def minhash_lsh_dups(spark, sf_dir):
        return dedup.minhash_lsh_pairs(_read_spread(spark, sf_dir, 'documents'),
                                       num_hashes=32, bands=8, threshold=0.4)

    def simhash_dup_pairs(spark, sf_dir):
        return dedup.simhash_dup_pairs(_read_spread(spark, sf_dir, 'documents'),
                                       max_hamming=6, bits=_SIMHASH_BITS)

    def embedding_ivf_topk(spark, sf_dir):
        emb = _read(spark, sf_dir, 'embeddings')
        emb = emb.withColumn('embedding',
                             F.transform('embedding', lambda x: x.cast('double')))
        qvec = emb.filter('vec_id = 0').select('embedding').first()[0]
        cents = _ivf_centroids(n_lists=16, dim=len(qvec), seed=11)
        return similarity.ivf_topk(emb.filter('vec_id <> 0'), qvec, cents,
                                   k=10, nprobe=4)

    def embedding_quantized_topk(spark, sf_dir):
        # int8-quantized cosine top-k: the per-vector scale cancels in
        # cosine, so similarities are INTEGER dot/norm products — exactly
        # reproducible cross-engine (plus a 4x memory/IO cut at scale)
        emb = _read(spark, sf_dir, 'embeddings')
        emb = emb.withColumn('embedding',
                             F.transform('embedding', lambda x: x.cast('double')))
        q = similarity.quantize_embeddings(emb.filter('vec_id <> 0'))
        qrow = similarity.quantize_embeddings(emb.filter('vec_id = 0')) \
            .select('qvec').first()[0]
        return similarity.quantized_topk(q, qrow, k=10)

    def embedding_cluster_sizes(spark, sf_dir):
        # coarse k-means cluster histogram over the whole embedding table —
        # the partition-design view of the IVF index (list balance decides
        # whether list-pruned probes are skew-free at scale)
        emb = _read(spark, sf_dir, 'embeddings')
        emb = emb.withColumn('embedding',
                             F.transform('embedding', lambda x: x.cast('double')))
        dim = len(emb.select('embedding').first()[0])
        cents = _ivf_centroids(n_lists=16, dim=dim, seed=11)
        assigned = similarity.ivf_assign(emb, cents)
        return assigned.groupBy('list_id').agg(F.count('*').alias('n_vecs'))

    def embedding_lsh_topk(spark, sf_dir):
        emb = _read(spark, sf_dir, 'embeddings')
        emb = emb.withColumn('embedding',
                             F.transform('embedding', lambda x: x.cast('double')))
        qvec = emb.filter('vec_id = 0').select('embedding').first()[0]
        return similarity.lsh_bucket_topk(emb.filter('vec_id <> 0'), qvec, k=10, n_planes=6)

    def embedding_contamination_flags(spark, sf_dir):
        # semantic decontamination: max cosine to the broadcast benchmark
        # set (threshold 0.25 ~ the p95 of max-benchmark-cosine in the
        # synthetic corpus, so both flag outcomes occur)
        emb = _read(spark, sf_dir, 'embeddings')
        emb = emb.withColumn('embedding',
                             F.transform('embedding', lambda x: x.cast('double')))
        return similarity.embedding_contamination(emb, benchmark_ids=[0, 1, 2],
                                                  threshold=0.25)

    def embedding_knn(spark, sf_dir):
        emb = _read(spark, sf_dir, 'embeddings')
        emb = emb.withColumn('embedding',
                             F.transform('embedding', lambda x: x.cast('double')))
        return similarity.embedding_knn_pairs(emb, query_ids=[0, 1, 2], k=5)

    def doc_language_id(spark, sf_dir):
        return text.language_id(_read_spread(spark, sf_dir, 'documents'))

    def doc_fingerprints(spark, sf_dir):
        return text.fingerprint_documents(_read_spread(spark, sf_dir, 'documents'))

    def doc_tokenize(spark, sf_dir):
        # md5 hash variant: the token stream itself is engine-portable, so
        # the ORACLE checks real token content (sum/first/last pin the
        # stream), not just counts.  The production tokenizer default stays
        # xxhash64 (faster; Spark-specific, so not cross-engine checkable —
        # covered by Spark-side determinism tests instead).
        t = text.tokenize_documents(_read(spark, sf_dir, 'documents'), hash_fn='md5')
        return t.select(
            'doc_id', 'n_tok',
            F.aggregate('tokens', F.lit(0).cast('long'),
                        lambda a, x: a + x).alias('tok_sum'),
            F.element_at('tokens', 1).alias('tok_first'),
            F.element_at('tokens', -1).alias('tok_last'),
            'source')

    def doc_bpe_merges(spark, sf_dir):
        # BPE merge learning (Sennrich-2016/Gage-1994, greedy ordered-replace
        # form): n_merges rounds of pair-count argmax over the CACHED
        # vocabulary-bounded word table — the corpus is scanned exactly once.
        # The ORACLE re-learns the same table via unrolled chained DuckDB
        # CTEs, so the learning itself (not just application) is checked.
        from changepoynt_spark.operators import bpe
        return bpe.bpe_merges(_read(spark, sf_dir, 'documents'), n_merges=16)

    def doc_bpe_tokens(spark, sf_dir):
        # learned-BPE tokenization; sum/first/last pin the token-id stream
        # (the doc_tokenize pattern) and `roundtrip` pins byte-exact
        # detokenization, all in one zero-shuffle application scan
        from changepoynt_spark.operators import bpe
        docs = _read_spread(spark, sf_dir, 'documents')
        merges = bpe.learn_bpe_merges(docs, n_merges=16)
        t = bpe.bpe_tokenize(docs, merges=merges, with_roundtrip=True)
        return t.select(
            'doc_id',
            'n_bpe',
            F.aggregate('token_ids', F.lit(0).cast('long'),
                        lambda a, x: a + x).alias('tok_sum'),
            F.element_at('token_ids', 1).alias('tok_first'),
            F.element_at('token_ids', -1).alias('tok_last'),
            'roundtrip',
            'source')

    _bpe1k_cache = {}

    def _bpe1k(spark, sf_dir):
        # learning is deterministic per corpus, and both 1k queries (and
        # repeated harness runs in one session) need the same vocabulary —
        # memoize (merges, persisted window_reprs) per sf_dir so the
        # 18-round learning pass runs once per session
        if sf_dir not in _bpe1k_cache:
            from changepoynt_spark.operators import bpe
            _bpe1k_cache[sf_dir] = bpe.learn_bpe_merges_windowed(
                _read(spark, sf_dir, 'documents'), n_rounds=18, batch=64,
                window=4)
        return _bpe1k_cache[sf_dir]

    def doc_bpe_merges_1k(spark, sf_dir):
        # realistic-vocab BPE: the 31-word corpus EXHAUSTS per-word BPE at
        # 82 merges (measured), so the 1k-scale surface is the WINDOWED
        # variant — merges may span word boundaries inside aligned 4-word
        # windows (GPT-2-style lifted EOW barrier), learned in rank-ordered
        # batches of 64 over the distinct-window table (18 rounds -> 1152
        # merges; counts as-of round start; the driver oracle re-learns the
        # whole table in SQL, one CTE chain per round)
        from changepoynt_spark.operators import bpe
        merges, _ = _bpe1k(spark, sf_dir)
        return spark.createDataFrame(
            [(m['merge_rank'], m['lhs'], m['rhs'], m['merged'],
              m['pair_count']) for m in merges], bpe.MERGE_SCHEMA)

    def doc_bpe_tokens_1k(spark, sf_dir):
        # 1152-merge windowed-BPE tokenization: documents never see the
        # 1k-deep replace chain — each 4-word window is looked up in the
        # learned window->symbols table (broadcast join; the window table
        # IS the bounded vocabulary) and reassembled in window order;
        # sum/first/last pin the token-id stream, `roundtrip` pins
        # byte-exact detokenization
        from changepoynt_spark.operators import bpe
        docs = _read(spark, sf_dir, 'documents')
        merges, reprs = _bpe1k(spark, sf_dir)
        t = bpe.bpe_tokenize_windowed(docs, merges=merges,
                                      window_reprs=reprs, window=4,
                                      with_roundtrip=True)
        out = t.select(
            'doc_id',
            'n_bpe',
            F.aggregate('token_ids', F.lit(0).cast('long'),
                        lambda a, x: a + x).alias('tok_sum'),
            F.element_at('token_ids', 1).alias('tok_first'),
            F.element_at('token_ids', -1).alias('tok_last'),
            'roundtrip',
            'source')
        return out

    def events_sessions(spark, sf_dir):
        from changepoynt_spark.operators.window_ops import session_stats
        return session_stats(_read(spark, sf_dir, 'events'), keys=['user_id'],
                             gap_seconds=600)

    def events_ewma(spark, sf_dir):
        # per-user EWMA smoothing channel; alpha=0.25 is binary-exact so the
        # (1-a)*prev + a*x recursion reproduces bit-for-bit cross-engine
        from changepoynt_spark.operators.window_ops import ewma_smooth
        ev = _read(spark, sf_dir, 'events').select('user_id', 'ts', 'event_id', 'value')
        out = ewma_smooth(ev, ['user_id'], alpha=0.25, order_cols=('event_id',))
        return out.select('user_id', 'event_id', 'ewma')

    def events_percentile_1h(spark, sf_dir):
        # exact nearest-rank percentiles (actual data values — continuous
        # interpolation differs in the last ulp across engines, so only the
        # discrete form is cross-engine comparable)
        return rollup.percentile_rollup(_read(spark, sf_dir, 'events'),
                                        ['user_id'], interval='1 hour')

    def events_counter_rate(spark, sf_dir):
        # reset-adjusted counter increase/rate per (user, hour).  The events
        # fixture has no counter column, so one is derived deterministically:
        # running sum of integer cents per user, wrapped mod 100000 to plant
        # genuine resets (floor(v*100+0.5) is IEEE-identical cross-engine;
        # a double->bigint CAST is NOT — DuckDB rounds, Spark truncates).
        from pyspark.sql import Window
        ev = _read(spark, sf_dir, 'events')
        cents = F.floor(F.col('value') * 100 + F.lit(0.5)).cast('long')
        run = (Window.partitionBy('user_id').orderBy('ts', 'event_id')
                     .rowsBetween(Window.unboundedPreceding, 0))
        ev2 = ev.withColumn('counter', F.sum(cents).over(run) % 100000)
        return rollup.counter_rate(ev2, ['user_id'], interval='1 hour',
                                   order_cols=('event_id',))

    def events_interval_join(spark, sf_dir):
        # clicks inside a 4-hour window after each error, per user — the
        # canonical range join, run through the bucketed interval_join
        # operator (equi-join blocking, NOT a BroadcastNestedLoopJoin).
        # DECIMAL-exact value sums -> deterministic doubles, no rounding.
        from changepoynt_spark.operators.asof import interval_join
        ev = _read(spark, sf_dir, 'events')
        iv = (ev.filter(F.col('event_type') == 'error')
                .select('user_id', F.col('event_id').alias('interval_id'),
                        F.col('ts').alias('lo'),
                        (F.col('ts') + F.expr('INTERVAL 4 HOURS')).alias('hi')))
        pts = (ev.filter(F.col('event_type') == 'click')
                 .select('user_id', 'ts', 'value'))
        j = interval_join(pts, iv, on=('user_id',), ts_col='ts',
                          bucket_seconds=14400, interval_cols=('interval_id',))
        return (j.groupBy('user_id', 'interval_id', 'lo')
                  .agg(F.count('*').alias('n_clicks'),
                       F.sum(F.col('value').cast('decimal(18,6)'))
                        .cast('double').alias('sum_value')))

    def events_asof_join(spark, sf_dir):
        # readings (even event ids) aligned to the most recent marker (odd
        # event ids) per user — the canonical time-series as-of join.  The
        # marker side is deduped to one row per (user, ts) first (as-of is
        # ambiguous under ts ties; both engines dedupe identically).
        from changepoynt_spark.operators.asof import asof_join
        ev = _read(spark, sf_dir, 'events')
        readings = ev.filter(F.pmod('event_id', F.lit(2)) == 0) \
                     .select('user_id', 'ts', 'event_id', 'value')
        markers = (ev.filter(F.pmod('event_id', F.lit(2)) == 1)
                     .groupBy('user_id', 'ts')
                     .agg(F.max_by('value', 'event_id').alias('marker_value')))
        out = asof_join(readings, markers, on=['user_id'], ts_col='ts',
                        right_cols=['marker_value'])
        return out.select('user_id', 'ts', 'event_id',
                          F.round('value', 6).alias('value'),
                          F.col('ts_r').alias('marker_ts'),
                          F.round('marker_value_r', 6).alias('marker_value'))

    def doc_pii_scrub(spark, sf_dir):
        # plant deterministic PII derived from doc_id (the fixture corpus
        # has none), so the oracle checks real redactions — counts AND the
        # md5 of the fully scrubbed bytes
        docs = _read(spark, sf_dir, 'documents')
        planted = docs.withColumn('text', F.concat(
            'text', F.lit(' contact user'), F.col('doc_id').cast('string'),
            F.lit('@example.com at 10.0.'),
            F.pmod(F.col('doc_id'), F.lit(256)).cast('string'),
            F.lit('.7 or +1 555 0100 '), F.col('doc_id').cast('string')))
        return text.pii_scrub(planted)

    def doc_contamination(spark, sf_dir):
        return text.contamination_check(_read_spread(spark, sf_dir, 'documents'),
                                        benchmark_ids=[0, 1, 2, 3, 4], n=3)

    def corpus_stratified_sample(spark, sf_dir):
        # exactly 5 docs per (source, lang) stratum, deterministic by
        # md5-rank — the count-exact complement of rate-based mixture_sample
        from changepoynt_spark.operators.packing import stratified_sample_exact
        out = stratified_sample_exact(_read_spread(spark, sf_dir, 'documents'),
                                      ['source', 'lang'], n_per_stratum=5)
        return out.select('doc_id', 'source', 'lang')

    def corpus_mixture_sample(spark, sf_dir):
        from changepoynt_spark.operators.packing import mixture_sample
        out = mixture_sample(_read(spark, sf_dir, 'documents'),
                             rates={'src0': 1.0, 'src1': 0.25}, default_rate=0.5)
        return out.select('doc_id', 'source')

    def embedding_cosine_dups(spark, sf_dir):
        emb = _read(spark, sf_dir, 'embeddings')
        emb = emb.withColumn('embedding',
                             F.transform('embedding', lambda x: x.cast('double')))
        # threshold 0.4: the synthetic embeddings have no planted near-dups
        # (max pairwise cosine ~0.5), so 0.4 exercises the full
        # bucket->union->verify path with a non-trivial result set
        return similarity.embedding_cosine_dups(emb, threshold=0.4, n_planes=6)

    def multimodal_frame_plan(spark, sf_dir):
        media = multimodal.synthetic_media_table(spark, n_items=24)
        return multimodal.frame_sample_plan(media, every_ms=5000)

    def multimodal_resize_plan(spark, sf_dir):
        media = multimodal.synthetic_media_table(spark, n_items=24)
        return multimodal.resize_plan(media, max_side=256)

    def multimodal_features(spark, sf_dir):
        # REAL content features for image (PPM parse), audio (WAV/PCM16
        # parse) and video (uncompressed AVI/DIB parse — round 5 closed the
        # last decode stub); contract shape is the rounded feature_sum
        media = multimodal.synthetic_media_table(spark, n_items=24)
        feats = multimodal.extract_features(media)
        return feats.select('media_id', 'modality', 'n_bytes',
                            F.round(F.aggregate('feature', F.lit(0.0),
                                                lambda a, v: a + v), 4).alias('feature_sum'))

    def multimodal_frame_features(spark, sf_dir):
        # executable frame sampling: decode each AVI, one row per sampled
        # frame with that frame's image features (rows-only: binary video
        # decode is not SQL-expressible)
        media = multimodal.synthetic_media_table(spark, n_items=24)
        frames = multimodal.sample_frames(media, every_ms=200)
        return frames.select('media_id', 'frame_idx', 'frame_ts_ms',
                             F.round(F.aggregate('feature', F.lit(0.0),
                                                 lambda a, v: a + v), 4).alias('feature_sum'))

    def chunked_moving_window(spark, sf_dir):
        # chunk-with-halo + salted scoring of the per-user series, reassembled
        # to long format; max_len=30 forces multi-chunk docs. DuckDB-oracled:
        # chunked scores must equal naive whole-series windows exactly.
        from changepoynt_spark.plans.partitioning import score_series_chunked
        long = score_series_chunked(_events_series(spark, sf_dir), 'moving_window',
                                    {'window_length': 8}, max_len=30, num_partitions=8)
        return long.select('doc_id', 'pos', F.round('score', 9).alias('score'))

    def retention_report(spark, sf_dir):
        from changepoynt_spark.operators.fused import score_rollup
        from changepoynt_spark.operators import retention
        rows = score_rollup(_events_series(spark, sf_dir), algorithm='moving_window',
                            params={'window_length': 8}, output='rows')
        return retention.expired_counts(
            rows, {'1m': '30 days', '1h': '180 days', '1d': None},
            now='2026-02-01 00:00:00')

    def gap_fill_linear_values(spark, sf_dir):
        # DECIMAL-exact tier sums -> the pre-interpolation average is
        # partitioning-independent, which is what makes the full-precision
        # cross-engine compare sound (see oracle note above)
        tier = (_rollup_1m(spark, sf_dir, exact_sum=True)
                .withColumn('avg_value',
                            F.col('sum_value').cast('double') / F.col('cnt_points')))
        filled = rollup.gap_fill(tier, keys=['user_id'], value_cols=('avg_value',),
                                 interval_seconds=60, method='linear')
        return filled.select('user_id', 'bucket_start', 'avg_value', 'is_gap')

    q = {
        # SQL-oracled
        'zero_baseline': zero_baseline,
        'events_rollup_1h_global': events_rollup_1h_global,
        'moving_window_mean': mw('mean'),
        'moving_window_var': mw('var'),
        'moving_window_meanvar': mw('meanvar'),
        'events_rollup_1m': events_rollup_1m,
        'events_rollup_1h_cascade': events_rollup_1h_cascade,
        'events_rollup_1d_cascade': events_rollup_1d_cascade,
        'events_backfill_merge': events_backfill_merge,
        'events_continuous_agg': events_continuous_agg,
        'events_realtime_agg': events_realtime_agg,
        'events_tier_routed_6h': events_tier_routed_6h,
        'tokens_continuous_agg': tokens_continuous_agg,
        'events_pruned_scan': events_pruned_scan,
        'events_bloom_point_scan': events_bloom_point_scan,
        'events_partition_evolution': events_partition_evolution,
        'events_schema_evolution': events_schema_evolution,
        'events_rollback_fork': events_rollback_fork,
        'events_hier_continuous_agg': events_hier_continuous_agg,
        'events_mor_delete': events_mor_delete,
        'events_cow_delete': events_cow_delete,
        'events_upsert_merge': events_upsert_merge,
        'events_zorder_scan': events_zorder_scan,
        'events_gapfill_1m': events_gapfill_1m,
        'doc_token_counts': doc_token_counts,
        'doc_quality_stats': doc_quality_stats,
        'doc_quality_flags': doc_quality_flags,
        'doc_language_counts': doc_language_counts,
        'doc_exact_dups': doc_exact_dups,
        'doc_repeated_passages': doc_repeated_passages,
        'doc_prefix_dups': doc_prefix_dups,
        'ngram_jaccard_dups': ngram_jaccard_dups,
        'doc_dedup_ranges': doc_dedup_ranges,
        'doc_decontaminate_ranges': doc_decontaminate_ranges,
        'doc_decontaminated_clean': doc_decontaminated_clean,
        'doc_dup_clusters': doc_dup_clusters,
        'doc_dup_clusters_prop': doc_dup_clusters_prop,
        'doc_split_counts': doc_split_counts,
        'doc_top_words': doc_top_words,
        'doc_top_words_mg': doc_top_words_mg,
        'doc_normalize': doc_normalize,
        'corpus_report_by_source': corpus_report_by_source,
        'corpus_curation_funnel': corpus_curation_funnel,
        'corpus_mixture_epochs': corpus_mixture_epochs,
        'doc_hash_embeddings': doc_hash_embeddings,
        'doc_semantic_topk': doc_semantic_topk,
        'doc_lexical_diversity': doc_lexical_diversity,
        'doc_quality_model': doc_quality_model,
        'events_rollup_1h_distinct_users': events_rollup_1h_distinct_users,
        'events_dd_quantiles_1h': events_dd_quantiles_1h,
        'events_ca_dd_quantiles_1d': events_ca_dd_quantiles_1d,
        'events_sketch_users_1d': events_sketch_users_1d,
        'events_twa_1h': events_twa_1h,
        'events_lttb_600': events_lttb_600,
        'events_lttb_20': events_lttb_20,
        'events_changepoint_segments': events_changepoint_segments,
        'events_anomaly_flags': events_anomaly_flags,
        'events_autocorr': events_autocorr,
        'events_seasonal_24h': events_seasonal_24h,
        'events_xcorr_types': events_xcorr_types,
        'events_holt_1h': events_holt_1h,
        'events_score_percentiles': events_score_percentiles,
        'events_moments_1d': events_moments_1d,
        'events_sax_1h': events_sax_1h,
        'events_sax_words_1h': events_sax_words_1h,
        'events_sax_words_nr_1h': events_sax_words_nr_1h,
        'events_sax_motifs': events_sax_motifs,
        'events_sax_motif_pairs': events_sax_motif_pairs,
        'events_sax_discords': events_sax_discords,
        'events_sax_type_dups': events_sax_type_dups,
        'doc_unigram_ppl': doc_unigram_ppl,
        'doc_dsir_weights': doc_dsir_weights,
        'sst_changepoint_segments': sst_changepoint_segments,
        'doc_repetition_stats': doc_repetition_stats,
        'doc_search_bm25': doc_search_bm25,
        'doc_search_bm25_indexed': doc_search_bm25_indexed,
        'doc_chunks': doc_chunks,
        'doc_pack_stats': doc_pack_stats,
        'doc_simhash': doc_simhash,
        'embedding_topk_cosine': embedding_topk_cosine,
        'lineitem_pricing_summary': lineitem_pricing_summary,
        'nation_revenue': nation_revenue,
        # rows-only kernels (bit-goldens in tests/)
        'sst_ika_scores': _kernel_query('sst', {'window_length': 10, 'n_windows': 10,
                                                'lag': 3, 'rank': 2, 'method': 'ika'}),
        'sst_rsvd_fast_hankel_scores': _kernel_query('sst', {'window_length': 16,
                                                             'n_windows': 16, 'lag': 4,
                                                             'rank': 2, 'method': 'rsvd',
                                                             'use_fast_hankel': True}),
        'esst_scores': _kernel_query('esst', {'window_length': 12, 'n_windows': 6,
                                              'lag': 6, 'rank': 2, 'method': 'rsvd'}),
        'bocpd_scores': _kernel_query('bocpd', {'run_length': 30}),
        'rulsif_scores': _kernel_query('rulsif', {'window_length': 4, 'n_windows': 8,
                                                  'scoring_step': 2}),
        # estimation_lag=4: sigma re-selected every 4th step (the cached-CV
        # feature, RNG-stream-aligned and tested) — 2.2x cheaper than
        # per-step CV at sf0.1 with the same contract shape
        'kliep_scores': _kernel_query('kliep', {'window_length': 4, 'n_windows': 8,
                                                'scoring_step': 4,
                                                'estimation_lag': 4}),
        'ulsif_scores': _kernel_query('ulsif', {'window_length': 4, 'n_windows': 8,
                                                'scoring_step': 4}),
        'fluss_scores': _kernel_query('fluss', {'window_length': 8}),
        'msst_scores': _multichannel_query('msst', {'window_length': 12, 'n_windows': 12,
                                                    'lag': 4, 'rank': 2, 'method': 'ika'}),
        'messt_scores': _multichannel_query('messt', {'window_length': 12, 'n_windows': 6,
                                                      'lag': 6, 'rank': 2, 'method': 'rsvd'}),
        'scored_rollup_compressed': scored_rollup_compressed,
        'minhash_lsh_dups': minhash_lsh_dups,
        'simhash_dup_pairs': simhash_dup_pairs,
        'embedding_lsh_topk': embedding_lsh_topk,
        'embedding_ivf_topk': embedding_ivf_topk,
        'embedding_cluster_sizes': embedding_cluster_sizes,
        'embedding_quantized_topk': embedding_quantized_topk,
        'embedding_knn': embedding_knn,
        'chunked_moving_window': chunked_moving_window,
        'retention_report': retention_report,
        'doc_language_id': doc_language_id,
        'doc_fingerprints': doc_fingerprints,
        'doc_tokenize': doc_tokenize,
        'doc_bpe_merges': doc_bpe_merges,
        'doc_bpe_tokens': doc_bpe_tokens,
        'doc_bpe_merges_1k': doc_bpe_merges_1k,
        'doc_bpe_tokens_1k': doc_bpe_tokens_1k,
        'doc_pii_scrub': doc_pii_scrub,
        'doc_contamination': doc_contamination,
        'corpus_mixture_sample': corpus_mixture_sample,
        'corpus_stratified_sample': corpus_stratified_sample,
        'events_asof_join': events_asof_join,
        'events_interval_join': events_interval_join,
        'events_sessions': events_sessions,
        'events_counter_rate': events_counter_rate,
        'events_percentile_1h': events_percentile_1h,
        'events_ewma': events_ewma,
        'embedding_cosine_dups': embedding_cosine_dups,
        'embedding_contamination_flags': embedding_contamination_flags,
        'multimodal_frame_plan': multimodal_frame_plan,
        'multimodal_resize_plan': multimodal_resize_plan,
        'multimodal_features': multimodal_features,
        'multimodal_frame_features': multimodal_frame_features,
        'gap_fill_linear_values': gap_fill_linear_values,
    }
    # oracled-first ordering: a driver that prefix-samples K queries hits
    # maximum oracle density (insertion order is the only order a dict has)
    oracled = set(oracle_sql())
    return {**{k: v for k, v in q.items() if k in oracled},
            **{k: v for k, v in q.items() if k not in oracled}}


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    from changepoynt_spark.operators.window_ops import moving_window_oracle_sql
    from changepoynt_spark.operators.text import STOPWORDS

    stoplist = ', '.join(f"'{w}'" for w in STOPWORDS)
    rollup_direct = """
        SELECT user_id,
               date_trunc('minute', ts) AS bucket_start,
               COUNT(value) AS cnt_points,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value,
               MIN(value) AS min_value,
               MAX(value) AS max_value,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(value), 6) AS avg_value,
               arg_min(value, ts) AS first_value,
               arg_max(value, ts) AS last_value
        FROM events GROUP BY 1, 2
    """

    def rollup_tier(trunc):
        return rollup_direct.replace("date_trunc('minute', ts)", f"date_trunc('{trunc}', ts)")

    return {
        'zero_baseline': _ZERO_SQL,
        'moving_window_mean': moving_window_oracle_sql(window_length=8, method='mean'),
        'moving_window_var': moving_window_oracle_sql(window_length=8, method='var'),
        'moving_window_meanvar': moving_window_oracle_sql(window_length=8, method='meanvar'),
        'events_rollup_1h_global': """
            SELECT date_trunc('hour', ts) AS bucket_start,
                   COUNT(value) AS cnt_points,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value,
                   MIN(value) AS min_value,
                   MAX(value) AS max_value,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(value), 6) AS avg_value
            FROM events GROUP BY 1
        """,
        'events_rollup_1m': rollup_tier('minute'),
        # full recompute over ALL events == the incremental merge
        'events_backfill_merge': rollup_tier('minute'),
        # full recompute over ALL events == the snapshot-delta refresh path
        'events_continuous_agg': rollup_tier('hour'),
        # full recompute == materialized tier + on-the-fly delta tail
        'events_realtime_agg': rollup_tier('hour'),
        # direct 6h epoch-bucket rollup from raw == the 1h-tier-routed
        # algebraic re-merge (6h divides no date_trunc unit)
        'events_tier_routed_6h': rollup_direct.replace(
            "date_trunc('minute', ts)",
            "CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP)"),
        # tokenize -> explode -> CA tier: full recompute == delta-transform
        # incremental + realtime tail
        'tokens_continuous_agg': """
            WITH toks AS (
              SELECT source,
                     list_transform(string_split(text, ' '),
                                    w -> CAST('0x' || substring(md5(w), 1, 8)
                                              AS BIGINT) % 50257) AS tokens
              FROM documents),
            pts AS (
              SELECT source,
                     TIMESTAMP '2026-01-01'
                       + INTERVAL 1 SECOND * unnest(range(len(tokens))) AS ts,
                     CAST(unnest(tokens) AS DOUBLE) AS value
              FROM toks)
            SELECT source, date_trunc('minute', ts) AS bucket_start,
                   COUNT(value) AS cnt_points,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
                     AS sum_value,
                   MIN(value) AS min_value,
                   MAX(value) AS max_value,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(value), 6) AS avg_value
            FROM pts GROUP BY 1, 2
        """,
        # direct 1h rollup == the raw -> 1m -> 1h incremental tier chain
        'events_hier_continuous_agg': rollup_tier('hour'),
        # plain WHERE over all events == the manifest-pruned file scan
        'events_pruned_scan': """
            SELECT event_id, ts, user_id, event_type,
                   ROUND(value, 6) AS value
            FROM events
            WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-25'
        """,
        # merge-on-read equality delete: purged users vanish from the two
        # pre-delete slices only; the post-delete slice survives intact
        'events_mor_delete': """
            SELECT event_id, ts, user_id, event_type,
                   ROUND(value, 6) AS value
            FROM events
            WHERE NOT (event_id % 3 IN (0, 1) AND user_id % 11 = 4)
        """,
        # bloom-pruned point lookups == plain WHERE IN over all events
        'events_bloom_point_scan': """
            SELECT event_id, ts, user_id, event_type,
                   ROUND(value, 6) AS value
            FROM events
            WHERE event_id IN (3, 57, 400, 801)
        """,
        # spec-evolved table scan == plain WHERE over all events
        'events_partition_evolution': """
            SELECT event_id, ts, user_id, event_type,
                   ROUND(value, 6) AS value
            FROM events
            WHERE user_id <= 7
        """,
        # add-column evolution: pre-evolution rows read the column as NULL
        'events_schema_evolution': """
            SELECT event_id, ts, user_id, event_type,
                   ROUND(value, 6) AS value,
                   CASE WHEN event_id % 2 = 1 THEN ROUND(value * 2, 6)
                        END AS score
            FROM events
        """,
        # rollback orphans slice 1; the forked lineage holds slices 0 and 2
        'events_rollback_fork': """
            SELECT event_id, ts, user_id, event_type,
                   ROUND(value, 6) AS value
            FROM events
            WHERE event_id % 3 IN (0, 2)
        """,
        # z-order-pruned two-dimensional scan == plain WHERE on both dims
        'events_zorder_scan': """
            SELECT event_id, ts, user_id, event_type,
                   ROUND(value, 6) AS value
            FROM events
            WHERE user_id <= 20 AND ts >= TIMESTAMP '2024-01-22'
        """,
        # atomic MERGE INTO == CASE-updated originals UNION offset inserts
        'events_upsert_merge': """
            SELECT event_id, ts, user_id, event_type,
                   ROUND(CASE WHEN event_id % 5 = 0 THEN value * 2
                              ELSE value END, 6) AS value
            FROM events
            UNION ALL
            SELECT event_id + 10000000 AS event_id, ts, user_id, event_type,
                   ROUND(value, 6) AS value
            FROM events
            WHERE event_id % 5 = 1
        """,
        # copy-on-write predicate delete == plain NOT-range over all events
        'events_cow_delete': """
            SELECT event_id, ts, user_id, event_type,
                   ROUND(value, 6) AS value
            FROM events
            WHERE NOT (ts >= TIMESTAMP '2024-01-13' AND ts < TIMESTAMP '2024-01-18')
        """,
        'events_rollup_1h_cascade': rollup_tier('hour'),
        'events_rollup_1d_cascade': rollup_tier('day'),
        'events_gapfill_1m': """
            WITH b AS (SELECT user_id, date_trunc('minute', MIN(ts)) AS lo,
                              date_trunc('minute', MAX(ts)) AS hi
                       FROM events GROUP BY user_id),
            spine AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS bucket_start
                      FROM b),
            obs AS (SELECT DISTINCT user_id, date_trunc('minute', ts) AS bucket_start FROM events)
            SELECT s.user_id,
                   COUNT(*) AS n_buckets,
                   CAST(SUM(CASE WHEN o.bucket_start IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps
            FROM spine s LEFT JOIN obs o
              ON s.user_id = o.user_id AND s.bucket_start = o.bucket_start
            GROUP BY s.user_id
        """,
        # Full-precision doubles on purpose (no ROUND): the tier average is
        # DECIMAL-exact-sum / count (deterministic), and the lerp expression
        # tree is identical binary64 arithmetic in both engines, so every
        # value must match BIT-FOR-BIT — a stronger check than round-6.
        'gap_fill_linear_values': """
            WITH tier AS (
                SELECT user_id, date_trunc('minute', ts) AS bucket_start,
                       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                           / COUNT(value) AS avg_value
                FROM events GROUP BY 1, 2),
            b AS (SELECT user_id, MIN(bucket_start) AS lo, MAX(bucket_start) AS hi
                  FROM tier GROUP BY user_id),
            spine AS (SELECT user_id,
                             unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS bucket_start
                      FROM b),
            j AS (SELECT s.user_id, s.bucket_start, t.avg_value,
                         t.avg_value IS NULL AS is_gap
                  FROM spine s LEFT JOIN tier t
                    ON s.user_id = t.user_id AND s.bucket_start = t.bucket_start),
            p AS (SELECT *, CAST(ROW_NUMBER() OVER
                       (PARTITION BY user_id ORDER BY bucket_start) AS DOUBLE) AS pos
                  FROM j),
            f AS (SELECT *,
                    last_value(avg_value IGNORE NULLS) OVER w_prev AS prev_v,
                    last_value(CASE WHEN avg_value IS NOT NULL THEN pos END
                               IGNORE NULLS) OVER w_prev AS prev_x,
                    last_value(avg_value IGNORE NULLS) OVER w_next AS next_v,
                    last_value(CASE WHEN avg_value IS NOT NULL THEN pos END
                               IGNORE NULLS) OVER w_next AS next_x
                  FROM p
                  WINDOW w_prev AS (PARTITION BY user_id ORDER BY bucket_start
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                         w_next AS (PARTITION BY user_id ORDER BY bucket_start DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            SELECT user_id, bucket_start,
                   CASE WHEN avg_value IS NOT NULL THEN avg_value
                        WHEN prev_v IS NULL THEN next_v
                        WHEN next_v IS NULL THEN prev_v
                        ELSE prev_v + (next_v - prev_v) / (next_x - prev_x)
                             * (pos - prev_x)
                   END AS avg_value,
                   is_gap
            FROM f
        """,
        'doc_token_counts': r"""
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                   CAST(length(text) AS BIGINT) AS n_chars_measured,
                   CAST(len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1)) AS BIGINT) AS n_bpe_ish
            FROM documents
        """,
        'doc_quality_stats': rf"""
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                   ROUND((length(text) - len(string_split(text, ' ')) + 1) * 1.0
                         / len(string_split(text, ' ')), 6) AS avg_word_len,
                   ROUND(len(list_filter(string_split(text, ' '),
                                         w -> list_contains([{stoplist}], lower(w)))) * 1.0
                         / len(string_split(text, ' ')), 6) AS stopword_ratio,
                   ROUND((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) * 1.0
                         / length(text), 6) AS punct_ratio
            FROM documents
        """,
        'doc_language_counts': _LANG_COUNTS_SQL,
        'doc_quality_flags': rf"""
            WITH m AS (
              SELECT doc_id,
                     length(text) AS n_chars_m,
                     len(string_split(text, ' ')) AS n_words,
                     (length(text) - len(string_split(text, ' ')) + 1) * 1.0
                       / len(string_split(text, ' ')) AS avg_wl,
                     len(list_filter(string_split(text, ' '),
                                     w -> list_contains([{stoplist}], lower(w)))) * 1.0
                       / len(string_split(text, ' ')) AS stop_ratio,
                     (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0
                       / length(text) AS sym_ratio
              FROM documents)
            SELECT doc_id,
                   (n_words >= 20 AND n_words <= 100000) AS ok_n_words,
                   (avg_wl >= 2.0 AND avg_wl <= 12.0) AS ok_word_len,
                   (stop_ratio >= 0.01) AS ok_stopwords,
                   (n_chars_m > 0 AND sym_ratio <= 0.3) AS ok_symbols,
                   ((n_words >= 20 AND n_words <= 100000)
                    AND (avg_wl >= 2.0 AND avg_wl <= 12.0)
                    AND (stop_ratio >= 0.01)
                    AND (n_chars_m > 0 AND sym_ratio <= 0.3)) AS keep
            FROM m
        """,
        'doc_exact_dups': """
            SELECT md5(text) AS text_hash, COUNT(*) AS n_dups, MIN(doc_id) AS min_doc_id
            FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
        """,
        'doc_repeated_passages': """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            p AS (SELECT doc_id, array_to_string(ws[i:i+9], ' ') AS passage
                  FROM w, UNNEST(range(1, len(ws) - 8)) AS t(i)
                  WHERE len(ws) >= 10),
            h AS (SELECT doc_id,
                         CAST('0x' || substring(md5(passage), 1, 15) AS BIGINT) AS passage_hash
                  FROM p)
            SELECT passage_hash, COUNT(DISTINCT doc_id) AS n_docs,
                   COUNT(*) AS n_occurrences, MIN(doc_id) AS min_doc_id
            FROM h GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
        """,
        'doc_prefix_dups': """
            SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS prefix_hash,
                   COUNT(*) AS n_dups, MIN(doc_id) AS min_doc_id
            FROM documents
            GROUP BY 1 HAVING COUNT(*) > 1
        """,
        'ngram_jaccard_dups': """
            WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                                  generate_subscripts(string_split(text, ' '), 1) AS i
                           FROM documents),
            sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
                   FROM words a
                   JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
                   JOIN words c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
            cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            pair AS (SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS inter
                     FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
                     GROUP BY 1, 2)
            SELECT da AS doc_a, db AS doc_b,
                   ROUND(inter * 1.0 / (ca.n + cb.n - inter), 6) AS jaccard
            FROM pair
            JOIN cnt ca ON ca.doc_id = da
            JOIN cnt cb ON cb.doc_id = db
            WHERE ROUND(inter * 1.0 / (ca.n + cb.n - inter), 6) >= 0.5
        """,
        'doc_simhash': _simhash_sql(),
        'doc_fingerprints': _fingerprints_sql(),
        'doc_tokenize': _TOKENIZE_SQL,
        'doc_bpe_merges': _bpe_sql(16, 'merges'),
        'doc_bpe_tokens': _bpe_sql(16, 'tokens'),
        'doc_bpe_merges_1k': _bpe_windowed_sql(18, 64, 4, 'merges'),
        'doc_bpe_tokens_1k': _bpe_windowed_sql(18, 64, 4, 'tokens'),
        'doc_pii_scrub': _pii_scrub_sql(),
        'doc_contamination': _CONTAMINATION_SQL,
        'corpus_mixture_sample': _MIXTURE_SAMPLE_SQL,
        'corpus_stratified_sample': """
            SELECT doc_id, source, lang FROM (
              SELECT doc_id, source, lang,
                     row_number() OVER (
                         PARTITION BY source, lang
                         ORDER BY md5(CAST(doc_id AS VARCHAR) || ':strat') ASC,
                                  doc_id ASC) AS rn
              FROM documents) WHERE rn <= 5
        """,
        'events_asof_join': _ASOF_JOIN_SQL,
        'events_interval_join': """
            WITH iv AS (SELECT user_id, event_id AS interval_id, ts AS lo,
                               ts + INTERVAL 4 HOUR AS hi
                        FROM events WHERE event_type = 'error'),
            pt AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
            SELECT i.user_id, i.interval_id, i.lo,
                   COUNT(*) AS n_clicks,
                   CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM iv i JOIN pt p
              ON i.user_id = p.user_id AND p.ts BETWEEN i.lo AND i.hi
            GROUP BY i.user_id, i.interval_id, i.lo
        """,
        'events_sessions': _SESSIONS_SQL,
        'events_ewma': """
            WITH RECURSIVE s AS (
              SELECT user_id, event_id, value,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events),
            r AS (
              SELECT user_id, rn, event_id, value AS ewma FROM s WHERE rn = 1
              UNION ALL
              SELECT s.user_id, s.rn, s.event_id, 0.75 * r.ewma + 0.25 * s.value
              FROM s JOIN r ON s.user_id = r.user_id AND s.rn = r.rn + 1)
            SELECT user_id, event_id, ewma FROM r
        """,
        'events_percentile_1h': """
            SELECT user_id, date_trunc('hour', ts) AS bucket_start,
                   COUNT(value) AS n_points,
                   list_sort(list(value))[GREATEST(1,
                       CAST(CEIL(0.5 * COUNT(value)) AS BIGINT))] AS p50,
                   list_sort(list(value))[GREATEST(1,
                       CAST(CEIL(0.95 * COUNT(value)) AS BIGINT))] AS p95,
                   list_sort(list(value))[GREATEST(1,
                       CAST(CEIL(0.99 * COUNT(value)) AS BIGINT))] AS p99
            FROM events GROUP BY 1, 2
        """,
        'events_counter_rate': """
            WITH c AS (
              SELECT user_id, ts, event_id,
                     SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       % 100000 AS counter
              FROM events),
            d AS (SELECT user_id, ts, counter,
                         LAG(counter) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev
                  FROM c),
            e AS (SELECT user_id, ts,
                         CASE WHEN prev IS NULL THEN NULL
                              WHEN counter >= prev THEN counter - prev
                              ELSE counter END AS delta,
                         CASE WHEN prev IS NOT NULL AND counter < prev
                              THEN 1 ELSE 0 END AS is_reset
                  FROM d)
            SELECT user_id, date_trunc('hour', ts) AS bucket_start,
                   CAST(SUM(delta) AS BIGINT) AS increase,
                   CAST(SUM(is_reset) AS BIGINT) AS n_resets,
                   COUNT(delta) AS n_samples,
                   CAST(SUM(delta) AS DOUBLE) / 3600 AS rate_per_sec
            FROM e GROUP BY 1, 2 HAVING COUNT(delta) > 0
        """,
        'doc_dedup_ranges': """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            p AS (SELECT doc_id, i AS s, i + 9 AS e,
                         CAST('0x' || substring(md5(array_to_string(ws[i:i+9], ' ')),
                                                1, 15) AS BIGINT) AS h
                  FROM w, UNNEST(range(1, len(ws) - 8)) AS t(i)
                  WHERE len(ws) >= 10),
            d AS (SELECT h FROM p GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
            m AS (SELECT p.doc_id, p.s, p.e FROM p JOIN d USING (h)),
            x AS (SELECT doc_id, s, e,
                         MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS pmax
                  FROM m),
            y AS (SELECT doc_id, s, e,
                         CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END AS f
                  FROM x),
            z AS (SELECT doc_id, s, e,
                         SUM(f) OVER (PARTITION BY doc_id ORDER BY s
                                      ROWS UNBOUNDED PRECEDING) AS isl
                  FROM y)
            SELECT doc_id, CAST(MIN(s) AS BIGINT) AS range_start,
                   CAST(MAX(e) AS BIGINT) AS range_end,
                   CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS n_positions,
                   CAST(COUNT(*) AS BIGINT) AS n_windows
            FROM z GROUP BY doc_id, isl
        """,
        'doc_decontaminate_ranges': """
            WITH bs AS (SELECT MIN(source) AS s FROM documents),
            w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                  WHERE source <> (SELECT s FROM bs)),
            bw AS (SELECT string_split(text, ' ') AS ws FROM documents
                   WHERE source = (SELECT s FROM bs)),
            p AS (SELECT doc_id, i AS s, i + 9 AS e,
                         CAST('0x' || substring(md5(array_to_string(ws[i:i+9], ' ')),
                                                1, 15) AS BIGINT) AS h
                  FROM w, UNNEST(range(1, len(ws) - 8)) AS t(i)
                  WHERE len(ws) >= 10),
            b AS (SELECT DISTINCT
                         CAST('0x' || substring(md5(array_to_string(ws[i:i+9], ' ')),
                                                1, 15) AS BIGINT) AS h
                  FROM bw, UNNEST(range(1, len(ws) - 8)) AS t(i)
                  WHERE len(ws) >= 10),
            m AS (SELECT p.doc_id, p.s, p.e FROM p JOIN b USING (h)),
            x AS (SELECT doc_id, s, e,
                         MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS pmax
                  FROM m),
            y AS (SELECT doc_id, s, e,
                         CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END AS f
                  FROM x),
            z AS (SELECT doc_id, s, e,
                         SUM(f) OVER (PARTITION BY doc_id ORDER BY s
                                      ROWS UNBOUNDED PRECEDING) AS isl
                  FROM y)
            SELECT doc_id, CAST(MIN(s) AS BIGINT) AS range_start,
                   CAST(MAX(e) AS BIGINT) AS range_end,
                   CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS n_positions,
                   CAST(COUNT(*) AS BIGINT) AS n_windows
            FROM z GROUP BY doc_id, isl
        """,
        'doc_decontaminated_clean': """
            WITH bs AS (SELECT MIN(source) AS s FROM documents),
            w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                  WHERE source <> (SELECT s FROM bs)),
            bw AS (SELECT string_split(text, ' ') AS ws FROM documents
                   WHERE source = (SELECT s FROM bs)),
            p AS (SELECT doc_id, i AS s, i + 9 AS e,
                         CAST('0x' || substring(md5(array_to_string(ws[i:i+9], ' ')),
                                                1, 15) AS BIGINT) AS h
                  FROM w, UNNEST(range(1, len(ws) - 8)) AS t(i)
                  WHERE len(ws) >= 10),
            b AS (SELECT DISTINCT
                         CAST('0x' || substring(md5(array_to_string(ws[i:i+9], ' ')),
                                                1, 15) AS BIGINT) AS h
                  FROM bw, UNNEST(range(1, len(ws) - 8)) AS t(i)
                  WHERE len(ws) >= 10),
            m AS (SELECT p.doc_id, p.s, p.e FROM p JOIN b USING (h)),
            x AS (SELECT doc_id, s, e,
                         MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS pmax
                  FROM m),
            y AS (SELECT doc_id, s, e,
                         CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END AS f
                  FROM x),
            z AS (SELECT doc_id, s, e,
                         SUM(f) OVER (PARTITION BY doc_id ORDER BY s
                                      ROWS UNBOUNDED PRECEDING) AS isl
                  FROM y),
            rg AS (SELECT doc_id, MIN(s) AS range_start, MAX(e) AS range_end,
                          MAX(e) - MIN(s) + 1 AS n_positions
                   FROM z GROUP BY doc_id, isl),
            stats AS (SELECT doc_id, SUM(n_positions) AS rm, COUNT(*) AS nr
                      FROM rg GROUP BY doc_id),
            pos AS (SELECT w.doc_id, t.i AS i, w.ws[t.i] AS wd
                    FROM w JOIN stats ON w.doc_id = stats.doc_id,
                         UNNEST(range(1, len(ws) + 1)) AS t(i)),
            keep AS (SELECT pos.doc_id, pos.i, pos.wd
                     FROM pos WHERE NOT EXISTS (
                         SELECT 1 FROM rg
                         WHERE rg.doc_id = pos.doc_id
                           AND pos.i BETWEEN rg.range_start AND rg.range_end)),
            cln AS (SELECT doc_id,
                           COALESCE(string_agg(wd, ' ' ORDER BY i), '') AS clean_text
                    FROM keep GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN stats.doc_id IS NULL THEN d.text
                        ELSE COALESCE(cln.clean_text, '') END AS clean_text,
                   CAST(COALESCE(stats.rm, 0) AS BIGINT) AS n_words_removed,
                   CAST(COALESCE(stats.nr, 0) AS BIGINT) AS n_ranges
            FROM documents d
            LEFT JOIN cln ON d.doc_id = cln.doc_id
            LEFT JOIN stats ON d.doc_id = stats.doc_id
            WHERE d.source <> (SELECT s FROM bs)
        """,
        'doc_dup_clusters': _DUP_CLUSTERS_SQL,
        'doc_dup_clusters_prop': _DUP_CLUSTERS_SQL,
        'doc_split_counts': """
            SELECT CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                             AS BIGINT) % 100 < 10
                        THEN 'val' ELSE 'train' END AS split,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        'doc_normalize': r"""
            SELECT doc_id,
                   lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm_text,
                   md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS norm_md5,
                   CAST(length(text) AS BIGINT) AS n_chars_raw,
                   CAST(length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm,
                   lower(regexp_replace(trim(text), '\s+', ' ', 'g')) <> text AS changed
            FROM documents
        """,
        'doc_quality_model': _quality_model_sql(dim=256, seed=31, bias=0.0,
                                                threshold=0.5),
        # DDSketch-style quantile tier: identical log-bucket histogram
        # (floor(64*ln|v|), sign-split), identical walk order (negatives by
        # descending bucket, zero, positives ascending) and rank semantics
        # (first cum >= ceil(q*n)); the walk is integer-exact, the only
        # doubles are the per-bucket exp estimates (round-6)
        'events_lttb_600': _lttb_sql(600),
        'events_lttb_20': _lttb_sql(20),
        'retention_report': _retention_sql(),
        'events_dd_quantiles_1h': """
            WITH bk AS (SELECT date_trunc('hour', ts) AS bucket_start,
                               CASE WHEN value > 0 THEN 1
                                    WHEN value < 0 THEN -1 ELSE 0 END AS sgn,
                               CASE WHEN value = 0 THEN 0
                                    ELSE CAST(floor(64 * ln(abs(value))) AS INTEGER)
                               END AS idx
                        FROM events),
            c AS (SELECT bucket_start, sgn, idx, COUNT(*) AS cnt
                  FROM bk GROUP BY 1, 2, 3),
            t AS (SELECT bucket_start, CAST(SUM(cnt) AS BIGINT) AS n
                  FROM c GROUP BY 1),
            o AS (SELECT bucket_start, sgn, idx, cnt,
                         SUM(cnt) OVER (PARTITION BY bucket_start
                                        ORDER BY sgn ASC,
                                                 CASE WHEN sgn < 0 THEN -idx
                                                      ELSE idx END ASC) AS cum,
                         CASE WHEN sgn = 0 THEN 0.0
                              ELSE sgn * exp((idx + 0.5) / 64.0) END AS est
                  FROM c)
            SELECT o.bucket_start, t.n AS n_points,
                   ROUND(MIN_BY(est, cum) FILTER (WHERE cum >= CEIL(0.5 * n)), 6) AS p50,
                   ROUND(MIN_BY(est, cum) FILTER (WHERE cum >= CEIL(0.95 * n)), 6) AS p95,
                   ROUND(MIN_BY(est, cum) FILTER (WHERE cum >= CEIL(0.99 * n)), 6) AS p99
            FROM o JOIN t USING (bucket_start)
            GROUP BY o.bucket_start, t.n
        """,
        # same walk at 1d == the DD-form CA (incremental + realtime tail)
        'events_ca_dd_quantiles_1d': """
            WITH bk AS (SELECT date_trunc('day', ts) AS bucket_start,
                               CASE WHEN value > 0 THEN 1
                                    WHEN value < 0 THEN -1 ELSE 0 END AS sgn,
                               CASE WHEN value = 0 THEN 0
                                    ELSE CAST(floor(64 * ln(abs(value))) AS INTEGER)
                               END AS idx
                        FROM events),
            c AS (SELECT bucket_start, sgn, idx, COUNT(*) AS cnt
                  FROM bk GROUP BY 1, 2, 3),
            t AS (SELECT bucket_start, CAST(SUM(cnt) AS BIGINT) AS n
                  FROM c GROUP BY 1),
            o AS (SELECT bucket_start, sgn, idx, cnt,
                         SUM(cnt) OVER (PARTITION BY bucket_start
                                        ORDER BY sgn ASC,
                                                 CASE WHEN sgn < 0 THEN -idx
                                                      ELSE idx END ASC) AS cum,
                         CASE WHEN sgn = 0 THEN 0.0
                              ELSE sgn * exp((idx + 0.5) / 64.0) END AS est
                  FROM c)
            SELECT o.bucket_start, t.n AS n_points,
                   ROUND(MIN_BY(est, cum) FILTER (WHERE cum >= CEIL(0.5 * n)), 6) AS p50,
                   ROUND(MIN_BY(est, cum) FILTER (WHERE cum >= CEIL(0.95 * n)), 6) AS p95,
                   ROUND(MIN_BY(est, cum) FILTER (WHERE cum >= CEIL(0.99 * n)), 6) AS p99
            FROM o JOIN t USING (bucket_start)
            GROUP BY o.bucket_start, t.n
        """,
        'doc_lexical_diversity': """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
            counts AS (SELECT word, COUNT(*) AS c
                       FROM (SELECT unnest(words) AS word FROM w) GROUP BY word),
            hapax AS (SELECT word FROM counts WHERE c = 1),
            inst AS (SELECT doc_id, unnest(words) AS word FROM w),
            hpd AS (SELECT doc_id, COUNT(*) AS n_hapax
                    FROM inst JOIN hapax USING (word) GROUP BY doc_id)
            SELECT w.doc_id,
                   CAST(len(words) AS BIGINT) AS n_words,
                   CAST(len(list_distinct(words)) AS BIGINT) AS n_types,
                   len(list_distinct(words)) * 1.0 / len(words) AS ttr,
                   COALESCE(h.n_hapax, 0) AS n_hapax,
                   COALESCE(h.n_hapax, 0) * 1.0 / len(words) AS hapax_frac
            FROM w LEFT JOIN hpd h ON w.doc_id = h.doc_id
        """,
        'events_rollup_1h_distinct_users': """
            SELECT date_trunc('hour', ts) AS bucket_start,
                   COUNT(DISTINCT user_id) AS n_users,
                   COUNT(*) AS n_events
            FROM events GROUP BY 1
        """,
        'doc_hash_embeddings': f"""
            WITH {_HASH_EMBED_CTE}
            SELECT d.doc_id, n.norm, CAST(d.i AS INTEGER) AS i, d.v
            FROM dense d JOIN nrm n ON d.doc_id = n.doc_id
        """,
        'doc_semantic_topk': f"""
            WITH {_HASH_EMBED_CTE},
            vecs AS (SELECT doc_id, list(v ORDER BY i) AS ev FROM dense GROUP BY doc_id),
            q AS (SELECT ev AS qv FROM vecs WHERE doc_id = 0),
            e AS (SELECT doc_id, ev FROM vecs WHERE doc_id <> 0)
            SELECT e.doc_id,
                   ROUND(list_inner_product(ev, qv)
                         / (sqrt(list_inner_product(ev, ev)) * sqrt(list_inner_product(qv, qv))),
                         6) AS cos_sim
            FROM e, q
            ORDER BY cos_sim DESC, doc_id
            LIMIT 10
        """,
        'events_twa_1h': """
            WITH d AS (SELECT user_id, epoch_us(ts) AS t, value AS v,
                              lead(epoch_us(ts)) OVER
                                  (PARTITION BY user_id ORDER BY epoch_us(ts)) AS nxt
                       FROM events),
            seg AS (SELECT user_id, t, v,
                           COALESCE(nxt, (t // 3600000000 + 1) * 3600000000) AS e
                    FROM d),
            ex AS (SELECT user_id, t, v, e,
                          unnest(range(t // 3600000000, (e - 1) // 3600000000 + 1)) AS b
                   FROM seg WHERE e > t),
            ov AS (SELECT user_id, b, v,
                          least(e, (b + 1) * 3600000000)
                              - greatest(t, b * 3600000000) AS overlap
                   FROM ex),
            agg AS (SELECT user_id, b,
                           CAST(SUM(overlap) AS BIGINT) AS covered_us,
                           SUM(CAST(v AS DECIMAL(18,6)) * overlap) AS integral_d
                    FROM ov GROUP BY 1, 2)
            SELECT user_id, make_timestamp(b * 3600000000) AS bucket_start,
                   covered_us, CAST(integral_d AS VARCHAR) AS integral
            FROM agg
        """,
        'events_changepoint_segments': _segments_oracle_sql(),
        'events_score_percentiles': _score_percentiles_oracle_sql(),
        'events_anomaly_flags': """
            WITH m AS (SELECT user_id, ts, value,
                              quantile_cont(value, 0.5) OVER w AS med
                       FROM events
                       WINDOW w AS (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING)),
            m2 AS (SELECT user_id, ts, value, med,
                          quantile_cont(abs(value - med), 0.5) OVER w AS mad
                   FROM m
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING))
            SELECT user_id, ts, value, med, mad,
                   CASE WHEN mad > 0 THEN abs(value - med) > 3.5 * 1.4826 * mad
                        ELSE abs(value - med) > 0 END AS is_anomaly
            FROM m2
        """,
        # Holt recursion stepped as a recursive CTE, q6-quantized each step
        'events_holt_1h': """
            WITH RECURSIVE tier AS (
              SELECT date_trunc('hour', ts) AS ts,
                     ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                           / COUNT(value), 6) AS value
              FROM events GROUP BY 1),
            ser AS (
              SELECT list(value ORDER BY ts) AS xs,
                     list(epoch_us(ts) ORDER BY ts) AS tss,
                     CAST(count(*) AS INTEGER) AS n
              FROM tier),
            walk AS (
              SELECT 1 AS t, xs, tss, n,
                     xs[1] AS l, CAST(0.0 AS DOUBLE) AS b,
                     CAST(NULL AS DOUBLE) AS fitted
              FROM ser
              UNION ALL
              SELECT t + 1, xs, tss, n, l_new,
                     floor((0.25 * (l_new - l) + 0.75 * b) * 1000000.0
                           + 0.5) / 1000000.0,
                     floor((l + b) * 1000000.0 + 0.5) / 1000000.0
              FROM (SELECT *,
                           floor((0.5 * xs[t + 1] + 0.5 * (l + b))
                                 * 1000000.0 + 0.5) / 1000000.0 AS l_new
                    FROM walk WHERE t < n)),
            obs AS (
              SELECT CAST(t - 1 AS INTEGER) AS rn,
                     make_timestamp(tss[t]) AS ts, xs[t] AS value,
                     l AS level, b AS trend, fitted
              FROM walk),
            lastrow AS (SELECT * FROM walk WHERE t = n),
            fc AS (
              SELECT CAST(n - 1 + h AS INTEGER) AS rn,
                     make_timestamp(tss[n]
                                    + h * (tss[n] - tss[n - 1])) AS ts,
                     CAST(NULL AS DOUBLE) AS value,
                     CAST(NULL AS DOUBLE) AS level,
                     CAST(NULL AS DOUBLE) AS trend,
                     floor((l + h * b) * 1000000.0 + 0.5) / 1000000.0
                       AS fitted
              FROM lastrow, (SELECT unnest(range(1, 13)) AS h))
            SELECT * FROM obs UNION ALL SELECT * FROM fc
        """,
        # lead-lag cross-correlation: same decimal moments per lag
        'events_xcorr_types': """
            WITH tier AS (
              SELECT event_type, date_trunc('hour', ts) AS ts,
                     ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                           / COUNT(value), 6) AS value
              FROM events GROUP BY 1, 2),
            a AS (SELECT ts, CAST(value AS DECIMAL(18,4)) AS xa
                  FROM tier WHERE event_type = 'click'),
            b AS (SELECT ts, CAST(value AS DECIMAL(18,4)) AS xb,
                         row_number() OVER (ORDER BY ts) - 1 AS rn
                  FROM tier WHERE event_type = 'view'),
            lagt AS (SELECT CAST(unnest(range(-3, 4)) AS INTEGER) AS lag),
            pairs AS (
              SELECT l.lag, t0.ts, t1.xb
              FROM lagt l JOIN b t0 ON TRUE
              JOIN b t1 ON t1.rn - l.lag = t0.rn),
            j AS (SELECT p.lag, a.xa, p.xb
                  FROM pairs p JOIN a ON a.ts = p.ts),
            m AS (SELECT lag, COUNT(*) AS n_pairs,
                         CAST(SUM(xa) AS DOUBLE) AS sx,
                         CAST(SUM(xb) AS DOUBLE) AS sy,
                         CAST(SUM(xa * xa) AS DOUBLE) AS sxx,
                         CAST(SUM(xb * xb) AS DOUBLE) AS syy,
                         CAST(SUM(xa * xb) AS DOUBLE) AS sxy
                  FROM j GROUP BY lag)
            SELECT lag, n_pairs,
                   CASE WHEN n_pairs >= 3
                             AND n_pairs * sxx - sx * sx > 0
                             AND n_pairs * syy - sy * sy > 0
                        THEN ROUND((n_pairs * sxy - sx * sy)
                                   / sqrt((n_pairs * sxx - sx * sx)
                                          * (n_pairs * syy - sy * sy)), 6)
                   END AS xcorr
            FROM m
        """,
        # the full decomposition, every fixed-shape expression mirrored
        'events_seasonal_24h': """
            WITH tier AS (
              SELECT date_trunc('hour', ts) AS ts,
                     ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                           / COUNT(value), 6) AS value
              FROM events GROUP BY 1),
            b AS (
              SELECT ts, value,
                     row_number() OVER (ORDER BY ts) - 1 AS rn,
                     CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER wa
                          + SUM(CAST(value AS DECIMAL(18,6))) OVER wb
                          AS DOUBLE) AS num,
                     COUNT(value) OVER sp AS nf
              FROM tier
              WINDOW wa AS (ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING),
                     wb AS (ORDER BY ts ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING),
                     sp AS (ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
            d AS (
              SELECT ts, value, rn % 24 AS phase,
                     CASE WHEN nf = 25 THEN num / 48 END AS trend,
                     CASE WHEN nf = 25 THEN CAST(round(
                         (value - num / 48) * 1000000.0) AS BIGINT) END AS dq
              FROM b),
            pm AS (SELECT phase,
                          CAST(round(CAST(SUM(dq) AS DOUBLE) / COUNT(dq))
                               AS BIGINT) AS smq
                   FROM d WHERE dq IS NOT NULL GROUP BY phase),
            c AS (SELECT CAST(SUM(smq) AS DOUBLE) / COUNT(smq) AS cq FROM pm),
            s AS (SELECT phase,
                         (CAST(smq AS DOUBLE) - (SELECT cq FROM c))
                         / 1000000.0 AS seasonal
                  FROM pm)
            SELECT d.ts, d.value,
                   ROUND(d.trend, 6) AS trend,
                   ROUND(s.seasonal, 6) AS seasonal,
                   CASE WHEN d.trend IS NOT NULL
                        THEN ROUND(d.value - d.trend - s.seasonal, 6)
                   END AS resid
            FROM d LEFT JOIN s USING (phase)
        """,
        'events_autocorr': """
            WITH d AS (SELECT user_id, ts,
                              CAST(value AS DECIMAL(8,4)) AS x,
                              CAST(lag(value) OVER (PARTITION BY user_id ORDER BY ts)
                                   AS DECIMAL(18,4)) AS y
                       FROM events),
            s AS (SELECT user_id, ts,
                         SUM(CASE WHEN y IS NOT NULL THEN 1 ELSE 0 END) OVER w AS n,
                         CAST(SUM(CASE WHEN y IS NOT NULL THEN x END) OVER w AS DOUBLE) AS sx,
                         CAST(SUM(CASE WHEN y IS NOT NULL THEN y END) OVER w AS DOUBLE) AS sy,
                         CAST(SUM(CASE WHEN y IS NOT NULL THEN x * x END) OVER w AS DOUBLE) AS sxx,
                         CAST(SUM(CASE WHEN y IS NOT NULL THEN y * y END) OVER w AS DOUBLE) AS syy,
                         CAST(SUM(CASE WHEN y IS NOT NULL THEN x * y END) OVER w AS DOUBLE) AS sxy
                  FROM d
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
            SELECT user_id, ts, CAST(n AS BIGINT) AS n_pairs,
                   ROUND(CASE WHEN n >= 3
                                   AND CAST(n AS DOUBLE) * sxx - sx * sx > 0
                                   AND CAST(n AS DOUBLE) * syy - sy * sy > 0
                              THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                                   / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                                          * (CAST(n AS DOUBLE) * syy - sy * sy))
                         END, 6) AS autocorr
            FROM s
        """,
        'events_moments_1d': """
            WITH a AS (
              SELECT date_trunc('day', ts) AS bucket_start,
                     COUNT(value) AS n_points,
                     SUM(CAST(value AS DECIMAL(8,4))) AS s1,
                     -- intermediate powers cast to >18-digit decimals so
                     -- DuckDB computes them on the int128 path (a 16-digit
                     -- x^2 times x overflows its int64 fast path at runtime)
                     CAST(SUM(CAST(CAST(value AS DECIMAL(8,4))
                                   * CAST(value AS DECIMAL(8,4))
                                   AS DECIMAL(24,8)))
                          AS DECIMAL(38,8)) AS s2,
                     CAST(SUM(CAST(CAST(CAST(value AS DECIMAL(8,4))
                                        * CAST(value AS DECIMAL(8,4))
                                        AS DECIMAL(24,8))
                                   * CAST(value AS DECIMAL(8,4))
                                   AS DECIMAL(32,12)))
                          AS DECIMAL(38,12)) AS s3,
                     CAST(SUM(CAST(CAST(CAST(value AS DECIMAL(8,4))
                                        * CAST(value AS DECIMAL(8,4))
                                        AS DECIMAL(24,8))
                                   * CAST(CAST(value AS DECIMAL(8,4))
                                          * CAST(value AS DECIMAL(8,4))
                                          AS DECIMAL(24,8))
                                   AS DECIMAL(38,16)))
                          AS DECIMAL(38,16)) AS s4
              FROM events GROUP BY 1),
            d AS (SELECT bucket_start, n_points,
                         CAST(n_points AS DOUBLE) AS n,
                         CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
                         CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4
                  FROM a),
            m AS (SELECT *, s1 / n AS mean,
                         s2 / n - (s1 / n) * (s1 / n) AS m2,
                         s3 / n - 3 * (s1 / n) * (s2 / n)
                             + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                         s4 / n - 4 * (s1 / n) * (s3 / n)
                             + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                             - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
                  FROM d)
            SELECT bucket_start, n_points,
                   ROUND(mean, 6) + 0.0 AS mean,
                   CASE WHEN m2 > 1e-6 THEN ROUND(m2, 6) + 0.0 END AS variance,
                   CASE WHEN m2 > 1e-6
                        THEN ROUND(m3 / sqrt(m2 * m2 * m2), 6) + 0.0 END AS skewness,
                   CASE WHEN m2 > 1e-6
                        THEN ROUND(m4 / (m2 * m2) - 3, 6) + 0.0 END AS kurtosis
            FROM m
        """,
        'events_sax_1h': _sax_sql(alphabet=4),
        'events_sax_words_1h': _sax_words_sql(alphabet=4, w=4, frame_sec=3600,
                                              keyed=False),
        'events_sax_words_nr_1h': _sax_words_sql(alphabet=4, w=4,
                                                 frame_sec=3600, keyed=False,
                                                 numerosity=True),
        'events_sax_motifs': _sax_motifs_sql(alphabet=4, w=4,
                                             frame_sec=3600, k=20),
        'events_sax_motif_pairs': _sax_motif_pairs_sql(alphabet=4, w=4,
                                                       frame_sec=3600, k=10),
        'events_sax_discords': _sax_discords_sql(alphabet=4, w=4,
                                                 frame_sec=3600, k=20),
        'events_sax_type_dups': _sax_series_dups_sql(alphabet=4, w=4,
                                                     frame_sec=3600,
                                                     key='event_type',
                                                     threshold=0.0),
        'doc_unigram_ppl': _UNIGRAM_PPL_SQL,
        'doc_dsir_weights': _dsir_sql(('src0', 'src1', 'src2'), dim=64),
        'doc_top_words_mg': """
            SELECT w, COUNT(*) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY w ORDER BY n DESC, w LIMIT 20
        """,
        'corpus_curation_funnel': _funnel_oracle_sql(stoplist),
        'corpus_mixture_epochs': _mixture_epochs_oracle_sql(),
        'corpus_report_by_source': """
            WITH base AS (SELECT source, lang, md5(text) AS h,
                                 len(string_split(text, ' ')) AS w,
                                 length(text) AS c
                          FROM documents),
            dup AS (SELECT source, CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_docs
                    FROM (SELECT source, h, COUNT(*) AS n FROM base GROUP BY 1, 2)
                    GROUP BY source)
            SELECT b.source, COUNT(*) AS n_docs,
                   CAST(SUM(w) AS BIGINT) AS total_words,
                   CAST(SUM(c) AS BIGINT) AS total_chars,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                   COALESCE(ANY_VALUE(d.n_dup_docs), 0) AS n_dup_docs
            FROM base b LEFT JOIN dup d ON b.source = d.source
            GROUP BY b.source
        """,
        'doc_chunks': """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
            n AS (SELECT doc_id, words, len(words) AS nw,
                         CAST(greatest(1, ceil((len(words) - 10) / 30.0)) AS BIGINT) AS nc
                  FROM w)
            SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
                   array_to_string(words[i*30 + 1 : i*30 + 40], ' ') AS chunk_text,
                   CAST(len(words[i*30 + 1 : i*30 + 40]) AS BIGINT) AS n_words
            FROM n, LATERAL unnest(range(0, nc)) AS t(i)
        """,
        'doc_repetition_stats': _REPETITION_SQL,
        'doc_search_bm25': _bm25_oracle_sql(),
        'doc_search_bm25_indexed': _bm25_oracle_sql(),
        'doc_top_words': """
            SELECT w, COUNT(*) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY w ORDER BY n DESC, w LIMIT 50
        """,
        'simhash_dup_pairs': _simhash_pairs_sql(max_hamming=6),
        'embedding_knn': _KNN_SQL,
        'embedding_lsh_topk': _lsh_topk_sql(n_planes=6, seed=7, k=10),
        'embedding_cosine_dups': _cosine_dups_sql(threshold=0.4, n_planes=6,
                                                  seed=7, n_tables=8),
        'embedding_contamination_flags': """
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings
                       WHERE sqrt(list_inner_product(
                                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                 list_transform(embedding, x -> CAST(x AS DOUBLE)))) > 0),
            q AS (SELECT v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
            c AS (SELECT vec_id, v FROM e WHERE vec_id NOT IN (0, 1, 2)),
            s AS (SELECT c.vec_id,
                         ROUND(MAX(list_inner_product(c.v, q.qv)
                               / (sqrt(list_inner_product(c.v, c.v))
                                  * sqrt(list_inner_product(q.qv, q.qv)))), 6)
                             AS max_benchmark_cos
                  FROM c, q GROUP BY 1)
            SELECT vec_id, max_benchmark_cos,
                   max_benchmark_cos >= 0.25 AS contaminated
            FROM s
        """,
        'embedding_ivf_topk': _ivf_topk_sql(n_lists=16, nprobe=4, k=10),
        'embedding_quantized_topk': """
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            qz AS (SELECT vec_id,
                          list_transform(v, x -> CAST(round(x * 127 /
                              list_max(list_transform(v, y -> abs(y)))) AS INTEGER)) AS qv
                   FROM e
                   WHERE list_max(list_transform(v, y -> abs(y))) > 0),
            qq AS (SELECT qv AS query_qv FROM qz WHERE vec_id = 0),
            c AS (SELECT vec_id, qv FROM qz WHERE vec_id <> 0),
            d AS (SELECT c.vec_id,
                         CAST(list_inner_product(list_transform(c.qv, x -> CAST(x AS BIGINT)),
                                                 list_transform(qq.query_qv, x -> CAST(x AS BIGINT)))
                              AS BIGINT) AS dot,
                         CAST(list_inner_product(list_transform(c.qv, x -> CAST(x AS BIGINT)),
                                                 list_transform(c.qv, x -> CAST(x AS BIGINT)))
                              AS BIGINT) AS aa,
                         CAST(list_inner_product(list_transform(qq.query_qv, x -> CAST(x AS BIGINT)),
                                                 list_transform(qq.query_qv, x -> CAST(x AS BIGINT)))
                              AS BIGINT) AS bb
                  FROM c, qq)
            SELECT vec_id,
                   ROUND(CAST(dot AS DOUBLE)
                         / (sqrt(CAST(aa AS DOUBLE)) * sqrt(CAST(bb AS DOUBLE))), 6)
                     AS qcos_sim
            FROM d WHERE aa > 0
            ORDER BY qcos_sim DESC, vec_id
            LIMIT 10
        """,
        'embedding_cluster_sizes': _cluster_sizes_sql(n_lists=16),
        'doc_language_id': _langid_sql(),
        # the LSH band join is candidate PRUNING; on this corpus it must
        # recover the complete brute-force Jaccard pair set at the query
        # threshold (deterministic: fixed hash seeds), so the exact
        # inverted-index SQL at threshold 0.4 is a sound oracle — any
        # missed pair is a genuine recall failure
        'minhash_lsh_dups': """
            WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                                  generate_subscripts(string_split(text, ' '), 1) AS i
                           FROM documents),
            sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
                   FROM words a
                   JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
                   JOIN words c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
            cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            pair AS (SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS inter
                     FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
                     GROUP BY 1, 2)
            SELECT da AS doc_a, db AS doc_b,
                   ROUND(inter * 1.0 / (ca.n + cb.n - inter), 6) AS jaccard
            FROM pair
            JOIN cnt ca ON ca.doc_id = da
            JOIN cnt cb ON cb.doc_id = db
            WHERE ROUND(inter * 1.0 / (ca.n + cb.n - inter), 6) >= 0.4
        """,
        'chunked_moving_window': """
            WITH x AS (
              SELECT CAST(user_id AS VARCHAR) AS doc_id,
                     CAST(ROUND(value * 10) AS INTEGER) / 1000.0 AS v,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS pos,
                     count(*) OVER (PARTITION BY user_id) AS n
              FROM events)
            SELECT doc_id, pos,
                   CASE WHEN pos >= 8 AND pos <= n - 8
                        THEN ROUND(abs(avg(v) OVER fut - avg(v) OVER past), 9)
                        ELSE 0.0 END AS score
            FROM x
            WHERE n >= 17  -- series shorter than 2w+1 are filtered before scoring
            WINDOW past AS (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
                   fut  AS (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
        """,
        'embedding_topk_cosine': """
            WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                       FROM embeddings WHERE vec_id = 0),
            e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
                  FROM embeddings WHERE vec_id <> 0)
            SELECT e.vec_id,
                   ROUND(list_inner_product(ev, qv)
                         / (sqrt(list_inner_product(ev, ev)) * sqrt(list_inner_product(qv, qv))),
                         6) AS cos_sim
            FROM e, q
            ORDER BY cos_sim DESC, vec_id
            LIMIT 10
        """,
        'lineitem_pricing_summary': _Q1_SQL,
        'nation_revenue': _NATION_REVENUE_SQL,
    }
