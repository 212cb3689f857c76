"""Iceberg-style table layout: parquet data files + JSON snapshot manifests.

No Iceberg runtime jar exists in this environment (checked $SPARK_HOME/jars;
no network), so the engine implements the *structure* of an Iceberg table —
immutable data files, JSON manifest/snapshot metadata, snapshot lineage,
hidden partitioning, time travel — in a layout it controls:

    <root>/data/snap-<n>/...parquet       (files added by snapshot n)
    <root>/metadata/snapshot-<n>.json     (schema, spec, manifest entries,
                                           parent pointer, summary)
    <root>/metadata/version-hint.txt      (current snapshot number)

Each manifest entry carries per-partition lineage + metrics (input
fingerprint, row count, rollup watermark) which is what makes jobs resumable
(see changepoynt_spark.plans.checkpoint).  The writer is behind this one
class, so a real ``iceberg-spark-runtime`` catalog can be dropped in later
without touching callers.
"""
from __future__ import annotations

import json
import os
import re
import time
from collections import OrderedDict
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)

# manifest column-stat bounds for strings are truncated to this many chars
# (Iceberg's write.metadata.metrics truncate(16) default): manifests must
# stay tiny relative to data or the scan-planning read becomes its own
# full-table scan at 10^12-sequence scale
_STR_STAT_LEN = 16


def _norm_stat(v):
    """Manifest-safe canonical form of a parquet footer min/max: numbers as
    numbers, timestamps as epoch MICROSECONDS (ints compare correctly and
    survive JSON), strings as-is (truncation handled separately), anything
    else (bytes, nested) dropped."""
    import datetime
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return int((v - datetime.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    if isinstance(v, (int, float, str)):
        return v
    return None


def _truncate_upper(s: str, n: int):
    """A valid UPPER bound for a truncated string stat: truncate to n chars
    and increment the last code point (Iceberg's truncateStringMax).  A
    plain prefix would be LOWER than some values it bounds ('abcz' > 'abc'),
    silently pruning files that match.  Returns None (no bound) when every
    char is U+10FFFF and cannot be incremented."""
    if len(s) <= n:
        return s
    t = list(s[:n])
    for i in range(n - 1, -1, -1):
        cp = ord(t[i])
        if cp < 0x10FFFF:
            return ''.join(t[:i]) + chr(cp + 1)
    return None


def _file_column_stats(path: str) -> dict:
    """Per-file min/max/null-count from the parquet footer (what an Iceberg
    writer records in the manifest at write time — here read back from the
    footer, which is metadata-only, never a data scan).  A column whose
    footer stats pyarrow cannot decode (INT32/INT64-backed decimals) gets
    no stats, like any other unsupported type: it never prunes."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    md = pq.ParquetFile(path).metadata
    out = {}
    out_rows = int(md.num_rows)
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            st = col.statistics
            name = col.path_in_schema
            if st is None or not st.has_min_max or '.' in name:
                out[name] = None            # poison: some group lacks stats
                continue
            try:
                lo, hi = st.min, st.max
            except pa.ArrowNotImplementedError:   # INT32/INT64 decimals
                lo = hi = None
            lo, hi = _norm_stat(lo), _norm_stat(hi)
            if lo is None or hi is None:
                out[name] = None
                continue
            nulls = int(st.null_count) if st.has_null_count else 0
            prev = out.get(name)
            if name in out:
                if prev is None:
                    continue
                lo = min(lo, prev['min'])
                hi = max(hi, prev['max'])
                nulls += prev['nulls']
            out[name] = {'min': lo, 'max': hi, 'nulls': nulls}
    stats = {}
    for name, s in out.items():
        if s is None:
            continue
        lo, hi = s['min'], s['max']
        if isinstance(lo, str):
            lo = lo[:_STR_STAT_LEN]
            hi = _truncate_upper(hi, _STR_STAT_LEN)
            if hi is None:
                continue
        stats[name] = {'min': lo, 'max': hi, 'nulls': s['nulls']}
    return out_rows, stats


def _coerce_partition_value(pv: str, val):
    """Typed view of a hidden-partition PATH value, matched to the
    predicate value's type, for range comparison.  Returns None when the
    coercion is unsound (null-partition markers, non-numeric strings,
    timestamp/bool predicates) — the caller then falls through to the
    conservative keep."""
    if isinstance(val, bool) or not isinstance(val, (int, float, str)):
        return None
    if isinstance(val, str):
        return pv                     # string ranges compare lexically, as SQL does
    try:
        return int(pv)
    except ValueError:
        try:
            return float(pv)
        except ValueError:
            return None


def _bloom_canon(value):
    """Canonical hashable form of a value for the bloom, or None when the
    value cannot be soundly hashed (the caller must then NOT consult the
    bloom — conservative keep).  On top of _norm_stat (timestamps → epoch
    micros), integral floats collapse to int so ``col = 1.0`` probes hash
    identically to an int32 build side — SQL numeric equality is typeless,
    the hash must be too."""
    v = _norm_stat(value)
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def _bloom_hashes(canon, n_bits: int, k: int):
    """k deterministic bit positions for an already-canonical value (double
    hashing over the md5 digest — stable across processes/hosts, unlike
    hash()).  Both sides must canonicalize through _bloom_canon so the
    probe (a Python literal) and the build (parquet column values) agree
    byte-for-byte."""
    import hashlib
    d = hashlib.md5(repr(canon).encode()).digest()
    h1 = int.from_bytes(d[:8], 'big')
    h2 = int.from_bytes(d[8:], 'big') | 1
    return [(h1 + i * h2) % n_bits for i in range(k)]


_BLOOM_K = 5


_BLOOM_MAX_BITS = 1 << 20


class _BloomAccumulator:
    """Streaming bloom build for one column of one file being written batch
    by batch: every batch hashes into a fixed 2^20-bit array (the size cap),
    and ``finish`` folds it down to the row-count-sized power of two.  The
    fold is EXACT because every bloom size here is a power of two: a bit
    position is ``H mod 2^j`` = the low j bits of H, so OR-ing the
    2^(20-j) aligned chunks of the max-size array yields bit-for-bit the
    same filter as a direct build at 2^j (asserted in tests).  Memory is a
    flat 128 KiB per column per task, independent of file size — the
    whole-partition materialization this replaces grew with the file."""

    def __init__(self):
        self.bits = bytearray(_BLOOM_MAX_BITS // 8)
        self.rows = 0
        self.poisoned = False

    def update(self, arr) -> None:
        self.rows += len(arr)
        if self.poisoned:
            return
        bits = self.bits
        for v in arr.to_pylist():
            if v is None:
                continue          # nulls are invisible to the bloom by design
            c = _bloom_canon(v)
            if c is None:         # unhashable type: a bloom would be unsound
                self.poisoned = True
                return
            for pos in _bloom_hashes(c, _BLOOM_MAX_BITS, _BLOOM_K):
                bits[pos >> 3] |= 1 << (pos & 7)

    def finish(self) -> Optional[dict]:
        import base64
        import numpy as np
        if self.rows == 0 or self.poisoned:
            return None
        n_bits = 1 << max(10, min(20, (16 * self.rows - 1).bit_length()))
        arr = np.frombuffer(bytes(self.bits), dtype=np.uint8)
        folded = np.bitwise_or.reduce(arr.reshape(-1, n_bits // 8), axis=0)
        return {'n_bits': n_bits, 'k': _BLOOM_K,
                'bits': base64.b64encode(folded.tobytes()).decode()}


def _write_with_blooms(df: DataFrame, snap_dir: str, bloom_cols) -> dict:
    """The one bloom writer (bloom snapshots are unpartitioned): every
    task streams its partition batch-by-batch through a ParquetWriter AND
    folds each batch into that file's bloom accumulators — the write is the
    only scan (a post-pass bloom build would re-read the table, which at
    10^12-sequence scale doubles write-path I/O) and nothing is ever
    materialized whole-partition in memory (the bloom state is a flat
    128 KiB per column).  Each attempt writes to an ATTEMPT-PRIVATE temp
    name and publishes with one atomic rename to ``part-<pid>.parquet`` —
    a speculative or zombie duplicate attempt can race only at the rename,
    where either complete file wins whole; a torn/interleaved part file is
    impossible.  Returns ``{file_name: {col: bloom}}``."""
    import json as _json
    os.makedirs(snap_dir, exist_ok=True)
    cols = list(bloom_cols)
    try:
        from pyspark.sql.pandas.types import to_arrow_schema
        aschema = to_arrow_schema(df.schema)
    except Exception:                                 # pragma: no cover
        aschema = None

    def fn(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext
        ctx = TaskContext.get()
        name = f'part-{ctx.partitionId():05d}.parquet'
        # '.…tmp' names are invisible to both the manifest walk (matches
        # *.parquet) and Spark's parquet reader (dot-prefixed = hidden), so
        # a crashed attempt's leftover can never be read as data
        tmp = os.path.join(snap_dir,
                           f'.{name}.attempt-{ctx.taskAttemptId()}.tmp')
        writer = None
        accs = {c: _BloomAccumulator() for c in cols}
        try:
            for b in batches:
                if not b.num_rows:
                    continue
                # arrow in, arrow out — no pandas in the write path
                tbl = pa.Table.from_batches([b])
                if aschema is not None:
                    tbl = tbl.cast(aschema)
                if writer is None:
                    writer = pq.ParquetWriter(tmp, tbl.schema)
                writer.write_table(tbl)
                for c in cols:
                    if c in tbl.column_names:
                        accs[c].update(tbl.column(c))
            if writer is None:
                return                      # empty partition: no file
            writer.close()
            writer = None
            os.replace(tmp, os.path.join(snap_dir, name))
        finally:
            if writer is not None:          # failed mid-write
                writer.close()
            if os.path.exists(tmp):
                os.remove(tmp)
        blooms = {c: a.finish() for c, a in accs.items()}
        yield pa.RecordBatch.from_pylist(
            [{'file_name': name,
              'blooms': _json.dumps({c: b for c, b in blooms.items()
                                     if b is not None})}])

    rows = df.mapInArrow(fn, 'file_name string, blooms string').collect()
    return {r['file_name']: _json.loads(r['blooms']) for r in rows}


def _bloom_may_contain(bloom: dict, value) -> bool:
    """False ONLY when the file definitely lacks the value.  A probe value
    the bloom can't soundly hash (None canon) returns True — never prune on
    a representation the build side couldn't see."""
    import base64
    c = _bloom_canon(value)
    if c is None:
        return True
    bits = base64.b64decode(bloom['bits'])
    for pos in _bloom_hashes(c, bloom['n_bits'], bloom['k']):
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def zorder_key(df: DataFrame, cols, bits_per_col: int = 8,
               out_col: str = '_z') -> DataFrame:
    """Adds ``out_col``: the Morton (Z-order) key of ``cols`` — per-column
    QUANTILE bucket ranks (approxQuantile boundaries, so skewed columns
    still spread evenly across buckets, unlike linear min/max scaling),
    bit-interleaved so that sorting by the key clusters rows that are close
    in EVERY dimension.  Files written in z-order get narrow min/max ranges
    on ALL the z-ordered columns at once, which is what lets
    :meth:`IcebergishTable.plan_files` prune on any of them — the
    multi-dimensional upgrade of single-column range clustering
    (Delta OPTIMIZE ZORDER / Iceberg rewrite sort-order semantics).

    The bucket assignment is a broadcast literal array of at most
    ``2^bits_per_col - 1`` boundaries per column + a JVM-side
    ``filter``/``size`` scan over it — no shuffle, no Python.  Timestamps
    are bucketed on their epoch value; numeric columns as doubles."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    cols = list(cols)
    nb = 1 << bits_per_col
    probs = [i / nb for i in range(1, nb)]
    buckets = []
    for c in cols:
        dt = df.schema[c].dataType
        ts_types = (T.TimestampType, getattr(T, 'TimestampNTZType', T.TimestampType),
                    T.DateType)
        expr = (F.unix_micros(F.col(c).cast('timestamp')).cast('double')
                if isinstance(dt, ts_types) else F.col(c).cast('double'))
        tmp = f'__zq_{c}'
        bounds = sorted(df.select(expr.alias(tmp))
                          .approxQuantile(tmp, probs, 1.0 / (4 * nb)))
        # duplicated boundaries are KEPT: a low-cardinality column (say 30
        # distinct values under 256 buckets) repeats each value ~8x in the
        # quantile list, so counting strictly-smaller bounds still spreads
        # bucket ids across the full 2^bits scale — deduping would park
        # them in the low bits and hand the interleave to the other column
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        buckets.append(F.size(F.filter(arr, lambda b: b < expr)))
    z = F.lit(0).cast('long')
    for bit in range(bits_per_col):
        for j, b in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(b.cast('long'), bit).bitwiseAND(F.lit(1)),
                bit * len(cols) + j)
    return df.withColumn(out_col, z)


def _path_partition_values(relpath: str) -> dict:
    """Hive-style key=value segments of a data file path (the hidden
    partition values a reader prunes on without knowing the layout).
    Values (and keys) are URL-unescaped: Spark percent-escapes path-unsafe
    chars when writing (':' → '%3A' in timestamp values, etc.), and pruning
    must compare the VALUE, not its escaped spelling."""
    from urllib.parse import unquote
    out = {}
    for seg in relpath.split(os.sep):
        if '=' in seg and not seg.endswith('.parquet'):
            k, _, v = seg.partition('=')
            out[unquote(k)] = unquote(v)
    return out


def _partition_eq(pv: str, val):
    """Typed equality of a Hive path partition value against a predicate
    literal — the '=' analogue of :func:`_coerce_partition_value`, honoring
    the same typeless-equality rule the bloom path (:func:`_bloom_canon`)
    implements: ``1.0 == 1``, timestamps compare on epoch micros.  Returns
    True/False when decidable, None when the coercion is unsound (null
    partition marker, unparseable path value) — the caller must then fall
    through to the conservative keep."""
    import datetime
    if pv == '__HIVE_DEFAULT_PARTITION__':
        return None
    c = _bloom_canon(val)
    if c is None:
        return None
    if isinstance(c, str):
        return pv == c
    # numeric or epoch-micros predicate: coerce the path string identically
    try:
        n = int(pv)
    except ValueError:
        try:
            f = float(pv)
        except ValueError:
            try:  # timestamp-formatted path value ('2026-01-01 00:00:00')
                dt = datetime.datetime.fromisoformat(pv)
            except ValueError:
                return None
            return _norm_stat(dt) == c
        n = int(f) if f.is_integer() else f
    return n == c


# tier snapshot property: the raw-table snapshot id a continuous aggregate
# reflects (see changepoynt_spark.sources.continuous)
WATERMARK_PROP = 'refreshed_through_snapshot'


def _fold_summary(prev: dict, props: dict, added: list, removed: list) -> dict:
    """A commit's snapshot summary from its parent's: ``added`` = the
    manifest entries of its data files, ``removed`` = the manifests of the
    live data snapshots it invalidates; the tier state takes the newest
    :data:`WATERMARK_PROP` and the max ``rollup_watermark`` and
    ``stream_batch_id`` ever committed."""
    import datetime
    out = dict(prev)
    out['total-data-files'] = (prev.get('total-data-files', 0) + len(added)
                               - sum(len(m['entries']) for m in removed))
    out['total-records'] = (prev.get('total-records', 0) + sum(e['rows'] for e in added)
                            - sum(m['row_count'] for m in removed))
    if WATERMARK_PROP in props:
        out['refreshed_through'] = int(props[WATERMARK_PROP])
    w = props.get('rollup_watermark')
    if w and w != 'None':
        out['rollup_watermark'] = max(filter(None, [w, prev.get('rollup_watermark')]),
                                      key=datetime.datetime.fromisoformat)
    if props.get('stream_batch_id') is not None:
        out['stream_batch_id'] = max(int(props['stream_batch_id']),
                                     prev.get('stream_batch_id', -1))
    return out


# snapshot operations whose data files REWRITE or RETRACT already-committed
# logical rows (maintenance / overwrite commits): a stream over the table
# must NOT ingest them — 'compact'/'tier-compact'/'expire' rewrite live rows
# a stream already saw (double count), 'delete' files are key tuples, not
# table rows (schema mismatch), 'delete-cow' re-writes the surviving rows of
# its targets, 'refresh-full' is a tier overwrite.
_MAINTENANCE_OPS = frozenset({'compact', 'tier-compact', 'expire', 'delete',
                              'delete-cow', 'refresh-full'})

# committed snapshot metadata file name: metadata/snapshot-<id>.json
_SNAPSHOT_FILE = re.compile(r'snapshot-(\d+)\.json$')

# data dir of a snapshot: data/snap-<id>
_SNAP_DIR = re.compile(r'snap-(\d+)$')

# parsed-manifest cache bound per table handle (LRU beyond it)
_SNAP_CACHE_MAX = 4096


class IcebergishTable:

    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, 'data')
        self.meta_dir = os.path.join(root, 'metadata')
        # parsed-manifest cache, stat-validated: committed snapshot jsons
        # are immutable (rewrites land as NEW snapshots), so live-set reads
        # and lineage walks (history / publish / the stream source) pay one
        # parse per manifest per process — with bloom-carrying manifests
        # that parse is the dominant metadata cost.  The (mtime_ns, size)
        # signature keeps the cache honest against out-of-band edits (tests
        # hand-rewrite manifests).  LRU past _SNAP_CACHE_MAX entries, so a
        # walk longer than the bound evicts only the coldest manifests.
        self._snap_cache: OrderedDict = OrderedDict()

    # -- snapshot bookkeeping ------------------------------------------------

    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, 'version-hint.txt')

    def current_snapshot_id(self) -> int:
        try:
            with open(self._hint_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _resolve(self, snapshot_id: int = None) -> int:
        """``snapshot_id``, or the current snapshot when None; raises
        ``ValueError`` (not an ``assert``, which ``python -O`` strips) when
        the table has no snapshots."""
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid < 0:
            raise ValueError(f'table {self.root} has no snapshots')
        return sid

    def snapshot(self, snapshot_id: int = None) -> Optional[dict]:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid < 0:
            return None
        path = os.path.join(self.meta_dir, f'snapshot-{sid}.json')
        try:
            st = os.stat(path)
        except FileNotFoundError:
            self._snap_cache.pop(sid, None)   # vacuumed/removed: never serve stale
            raise
        sig = (st.st_mtime_ns, st.st_size)
        hit = self._snap_cache.get(sid)
        if hit is not None and hit[0] == sig:
            self._snap_cache.move_to_end(sid)
            return hit[1]
        with open(path) as f:
            snap = json.load(f)
        self._snap_cache[sid] = (sig, snap)
        self._snap_cache.move_to_end(sid)
        if len(self._snap_cache) > _SNAP_CACHE_MAX:
            self._snap_cache.popitem(last=False)
        return snap

    def summary(self, snapshot_id: int = None) -> dict:
        """Snapshot summary (default: current; see :meth:`_commit`): file
        and record counts plus the tier state.  {} on an empty table."""
        snap = self.snapshot(snapshot_id)
        return snap['summary'] if snap else {}

    def lineage(self, snapshot_id: int = None):
        """Snapshots from ``snapshot_id`` (default: current) back to the
        root, newest first, following ``parent`` pointers (-1 = root).
        The one place that knows the lineage format: callers apply their
        own stop rule by breaking out of the iteration."""
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        while sid >= 0:
            snap = self.snapshot(sid)
            yield snap
            sid = snap.get('parent', -1)

    def history(self) -> list:
        """Snapshot lineage, oldest first."""
        return list(self.lineage())[::-1]

    def snapshot_as_of(self, ts_ms: int) -> int:
        """Latest lineage snapshot committed at or before ``ts_ms`` — the
        resolver behind Iceberg's ``FOR TIMESTAMP AS OF`` reads
        (``read(spark, t.snapshot_as_of(ms))``).  -1 when the table had no
        snapshot yet at that time."""
        best = -1
        for snap in self.history():
            if snap['timestamp_ms'] <= ts_ms:
                best = snap['snapshot_id']
        return best

    def rollback(self, snapshot_id: int) -> dict:
        """Reset the table's CURRENT state to an ancestor snapshot
        (Iceberg rollback): pure metadata, one atomic version-hint flip —
        no data is touched at any scale.  The abandoned descendants stay on
        disk as unreachable orphans (their ids are never reused:
        new ids come from every snapshot file on disk, reachable or not),
        so a post-rollback append FORKS the lineage cleanly and a later
        :meth:`vacuum` reclaims the orphans' files."""
        cur = self._resolve()
        chain = [s['snapshot_id'] for s in self.lineage(cur)]
        if snapshot_id not in chain:
            raise ValueError(
                f'snapshot {snapshot_id} is not an ancestor of the current '
                f'snapshot {cur} (lineage: {chain[::-1]}); rollback only '
                f'restores a state the table actually had')
        self._advance_hint(snapshot_id)
        orphaned = [c for c in chain if c > snapshot_id]
        return {'rolled_back_to': int(snapshot_id), 'from': int(cur),
                'orphaned': sorted(orphaned)}

    # -- write / read ----------------------------------------------------------

    def _snapshot_ids_on_disk(self) -> list:
        """Ids of every snapshot json in ``metadata/``, reachable or not."""
        if not os.path.isdir(self.meta_dir):
            return []
        return [int(m.group(1)) for m in map(_SNAPSHOT_FILE.match,
                                             os.listdir(self.meta_dir)) if m]

    def _data_dir_ids(self) -> list:
        """Ids of every ``snap-<n>`` data dir in ``data/``, json or not."""
        dirs = os.listdir(self.data_dir) if os.path.isdir(self.data_dir) else []
        return [int(m.group(1)) for m in map(_SNAP_DIR.match, dirs) if m]

    def _next_sid(self) -> int:
        """Next unused snapshot id: max of the version hint, every snapshot
        json and every ``snap-<n>`` data dir on disk.  A crashed
        multi-snapshot commit (upsert) leaves unreachable snapshot files
        past the hint, and a crashed append leaves a data dir with no json;
        ids must skip both or the next append would collide with the
        debris's data dir."""
        return max([self.current_snapshot_id(), *self._snapshot_ids_on_disk(),
                    *self._data_dir_ids()]) + 1

    def append(self, df: DataFrame, partition_by=('source',), properties: dict = None,
               invalidates=(), cluster_by=None, zorder_by=None, n_files: int = None,
               bloom_cols=None, _parent: int = None, _advance_hint: bool = True,
               properties_fn=None) -> dict:
        """Append df as a new snapshot; returns the snapshot dict.

        ``properties`` lands in the manifest entry — callers put lineage /
        watermark metrics there (bucket id, input fingerprint, max rollup
        ts).  Hidden partitioning: callers pass derived columns (e.g.
        doc_bucket) that readers never need to know about.

        ``invalidates``: snapshot ids whose data files this snapshot
        logically replaces (overwrite-partition semantics — readers of this
        or later snapshots skip them).

        ``cluster_by``: range-partition + sort the write on these columns
        (Iceberg's ``write.distribution-mode=range``): each data file then
        covers a DISJOINT value range, which is what makes the manifest
        min/max stats (:meth:`plan_files`) selective — without clustering
        every file spans most of the domain and a point predicate keeps
        everything.  One extra shuffle at write time buys metadata-bound
        scan planning on every later read; ``n_files`` bounds the file
        count (default: the session's shuffle parallelism).

        ``zorder_by``: multi-column clustering on the Morton key instead
        (see :func:`zorder_key`) — narrower per-file ranges on EVERY listed
        column, so point/range predicates on ANY of them prune files;
        single-column ``cluster_by`` prunes only its own column.

        ``bloom_cols``: per-file Bloom filters recorded in the manifest
        (Iceberg puffin-style).  min/max stats cannot prune POINT lookups
        on a high-cardinality column the write is not clustered by — every
        file's range contains every id — but a ~16-bits/row bloom answers
        "definitely not in this file" for equality predicates, turning a
        needle-in-100TB doc_id lookup into a handful of file reads.  The
        blooms are built during the write, one file per task, so a bloom
        table is unpartitioned: ``bloom_cols`` with a non-empty
        ``partition_by`` raises ``ValueError``."""
        if bloom_cols and partition_by:
            raise ValueError(f'bloom_cols needs partition_by=(), got '
                             f'partition_by={tuple(partition_by)!r}')
        parent = self.current_snapshot_id() if _parent is None else _parent
        sid = self._next_sid()
        snap_dir = os.path.join(self.data_dir, f'snap-{sid}')
        if zorder_by:
            # multi-dimensional clustering: range-partition + sort on the
            # Morton key, then DROP it — the clustering lives in the file
            # layout and its manifest stats, not in the schema
            df = zorder_key(df, zorder_by)
            df = (df.repartitionByRange(n_files, '_z') if n_files
                  else df.repartitionByRange('_z')).sortWithinPartitions('_z')
            df = df.drop('_z')
        elif cluster_by:
            cols = list(cluster_by)
            df = (df.repartitionByRange(n_files, *cols) if n_files
                  else df.repartitionByRange(*cols)).sortWithinPartitions(*cols)
        elif n_files:
            df = df.repartition(n_files)  # unclustered: bound file count only
        folded_blooms = {}
        if bloom_cols:
            # one pass: each task writes its file AND builds its blooms
            # from the same batches
            folded_blooms = _write_with_blooms(df, snap_dir, bloom_cols)
            if not folded_blooms:
                # empty input wrote no files: lay down the standard
                # schema-carrying empty dir the readers expect
                import shutil
                shutil.rmtree(snap_dir, ignore_errors=True)
                df.write.mode('error').parquet(snap_dir)
        else:
            writer = df.write.mode('error')
            if partition_by:
                writer = writer.partitionBy(*list(partition_by))
            writer.parquet(snap_dir)
        files = []
        for dirpath, _, names in os.walk(snap_dir):
            for name in names:
                if name.endswith('.parquet'):
                    p = os.path.join(dirpath, name)
                    rel = os.path.relpath(p, self.root)
                    f_rows, f_stats = _file_column_stats(p)
                    entry = {'path': rel,
                             'bytes': os.path.getsize(p),
                             'rows': f_rows,
                             'partition': _path_partition_values(rel),
                             'stats': f_stats}
                    if folded_blooms.get(name):
                        entry['blooms'] = folded_blooms[name]
                    files.append(entry)
        props = dict(properties or {})
        if properties_fn is not None:
            # post-write property hook: lets callers derive manifest
            # properties from Observation metrics collected DURING the data
            # write (one job instead of a separate pre-commit aggregate)
            props.update(properties_fn() or {})
        return self._commit(sid, parent, invalidates, props, df.schema.jsonValue(),
                            partition_by, files, advance_hint=_advance_hint)

    def _commit(self, sid: int, parent: int, invalidates, properties: dict,
                schema, partition_spec, entries: list,
                advance_hint: bool = True) -> dict:
        """The one commit path: every snapshot json of this table is
        published here — data appends (``entries`` = the written files) and
        data-less manifest surgery (``entries=[]``, no snap dir) alike.

        Each json records the table state, folded from the parent's json
        alone, so no reader replays the lineage: ``live`` (Iceberg's
        manifest list: ``[sid, 'data'|'delete']`` pairs, newest first — the
        parent's, minus ``invalidates``, plus this snapshot) and ``summary``
        (Iceberg's snapshot summary: total data files and records of the
        live data snapshots, plus the tier state — ``refreshed_through``,
        the newest :data:`WATERMARK_PROP` on the lineage, and
        ``rollup_watermark`` / ``stream_batch_id``, each its max there).

        Writes ``snapshot-<sid>.json`` via a temp file + atomic rename, then
        (unless ``advance_hint`` is False: staged / multi-snapshot commits)
        flips the version hint."""
        inv = sorted(int(i) for i in invalidates)
        props = dict(properties)
        prev = self.snapshot(parent) if parent >= 0 else {'live': [], 'summary': {}}
        kind = 'delete' if props.get('operation') == 'delete' else 'data'
        removed = [self.snapshot(c)['manifest'] for c, k in prev['live']
                   if c in inv and k == 'data']
        added = entries if kind == 'data' else []
        summary = _fold_summary(prev['summary'], props, added, removed)
        snap = {
            'snapshot_id': sid,
            'parent': parent,
            'invalidates': inv,
            'timestamp_ms': int(time.time() * 1000),
            'schema': schema,
            'partition_spec': list(partition_spec or []),
            'live': [[sid, kind]] + [e for e in prev['live'] if e[0] not in inv],
            'summary': summary,
            'manifest': {
                'entries': entries,
                # exact row count from the parquet footers already parsed
                # for the manifest stats — never a re-read of the data
                'row_count': sum(e['rows'] for e in entries),
                'properties': props,
            },
        }
        os.makedirs(self.meta_dir, exist_ok=True)
        tmp = os.path.join(self.meta_dir, f'.snapshot-{sid}.json.tmp')
        with open(tmp, 'w') as f:
            json.dump(snap, f, indent=1)
        os.replace(tmp, os.path.join(self.meta_dir, f'snapshot-{sid}.json'))
        # version hint last: a crash before this line leaves the table at the
        # previous snapshot (the new files are unreachable -> atomic commit)
        if advance_hint:
            self._advance_hint(sid)
        return snap

    def _advance_hint(self, sid: int) -> None:
        """The one writer of ``version-hint.txt`` (atomic rename)."""
        tmp_hint = self._hint_path() + '.tmp'
        with open(tmp_hint, 'w') as f:
            f.write(str(sid))
        os.replace(tmp_hint, self._hint_path())

    def upsert(self, df: DataFrame, key_cols, partition_by=(),
               properties: dict = None) -> dict:
        """Atomic MERGE INTO (Iceberg v2 row delta): one logical commit that
        UPDATES rows whose ``key_cols`` already exist (via a merge-on-read
        equality delete of ``df``'s keys) and INSERTS the rest (``df``'s
        rows appended).  Two snapshots land on disk — the delete, then the
        data chained to it — but the version hint (the table's single
        atomic pointer) moves ONCE, straight to the data snapshot: a reader
        sees either the pre-merge table or the fully-merged one, never the
        keys-deleted-but-not-reinserted intermediate.  A crash mid-commit
        leaves only unreachable metadata; new snapshot ids skip every
        snapshot file on disk, so the next commit never reuses an orphan's.

        Cost is O(|df|) — the delete component is key tuples, the insert is
        ``df`` itself; nothing existing is rewritten (compaction
        materializes later).  Incremental readers raise across the commit
        (the delete retracts reflected rows), so continuous aggregates full-
        recompute — MERGE modifies history, same rule as delete_keys."""
        cols = list(key_cols)
        props = dict(properties or {})
        dsnap = self.append(
            df.select(*cols).dropDuplicates(cols), partition_by=(),
            properties={**props, 'operation': 'delete', 'equality_cols': cols,
                        'upsert_part': 'delete'},
            _advance_hint=False)
        snap = self.append(
            df, partition_by=partition_by,
            properties={**props, 'operation': 'upsert', 'upsert_part': 'data',
                        'upsert_keys': cols},
            _parent=dsnap['snapshot_id'], _advance_hint=False)
        self._advance_hint(snap['snapshot_id'])
        return snap

    def stage(self, df: DataFrame, partition_by=('source',),
              properties: dict = None, **kw) -> dict:
        """WRITE-AUDIT-PUBLISH, step 1 (Iceberg's WAP / audit-branch
        pattern): write the snapshot — data files, manifest, lineage — but
        do NOT move the version hint.  Production readers keep seeing the
        old table; the audit job reads the staged snapshot by id
        (``read(spark, snapshot_id=staged['snapshot_id'])``) and decides.
        :meth:`publish` fast-forwards the hint atomically; an abandoned
        stage is just unreachable metadata (new snapshot ids skip it, and
        no reader can reach its files).  Accepts everything :meth:`append`
        does (cluster_by/zorder_by/invalidates/...).

        The snapshot is marked ``wap.staged`` so maintenance :meth:`vacuum`
        between stage and publish does NOT reclaim it as an orphan
        (Iceberg's branch/ref retention rule) — without the marker a vacuum
        in that window would silently delete the staged data dir while
        publish still succeeds on the surviving metadata."""
        return self.append(df, partition_by=partition_by,
                           properties={**(properties or {}),
                                       'wap.staged': 'true'},
                           _advance_hint=False, **kw)

    def publish(self, snapshot_id: int) -> int:
        """WRITE-AUDIT-PUBLISH, step 2: atomically fast-forward the table to
        a staged snapshot.  Valid only when the staged lineage chains back
        to the CURRENT hint (possibly through other staged snapshots, e.g.
        a staged upsert pair) — if other commits landed since staging, this
        raises and the caller re-stages on the new tip; nothing is ever
        half-published."""
        cur = self.current_snapshot_id()
        chained = []
        for snap in self.lineage(snapshot_id):
            if snap['snapshot_id'] == cur:
                break
            chained.append(snap['snapshot_id'])
        else:
            if cur >= 0:
                raise ValueError(
                    f'staged snapshot {snapshot_id} does not chain to the '
                    f'current snapshot {cur} (concurrent commit landed after '
                    f'staging); re-stage on the new tip')
        # refuse to publish data that no longer exists (e.g. a forced
        # vacuum(retain_staged=False) reclaimed it): publishing would
        # succeed on metadata alone and read() would silently drop the
        # missing dir — fail loudly instead
        for s in chained:
            d = os.path.join(self.data_dir, f'snap-{s}')
            if not os.path.isdir(d):
                raise ValueError(
                    f'staged snapshot {s} has no data dir ({d}): it was '
                    f'vacuumed between stage() and publish(); re-stage')
        self._advance_hint(snapshot_id)
        return snapshot_id

    def _read_snap(self, spark: SparkSession, sid: int, paths=None) -> DataFrame:
        """The one parquet read of the table layer: snapshot ``sid``'s data
        dir (or only its files ``paths``, with ``basePath`` at the dir so
        hidden-partition columns survive), read with the schema its
        manifest recorded at commit.  Iceberg readers plan from manifests:
        no footer is inferred (that costs a Spark job per dir), and
        partition columns keep their WRITTEN types instead of whatever
        Spark would infer from the path ('007' stays a string)."""
        from pyspark.sql import types as T
        schema = self.snapshot(sid).get('schema')
        if schema is None:
            raise ValueError(f'snapshot {sid} of table {self.root} records no '
                             f'schema in its manifest: corrupt table')
        snap_dir = os.path.join(self.data_dir, f'snap-{sid}')
        reader = spark.read.schema(T.StructType.fromJson(schema))
        if paths is None:
            return reader.parquet(snap_dir)
        return reader.option('basePath', snap_dir).parquet(*paths)

    def _read_snaps(self, spark: SparkSession, parts, dels=(),
                    seq: str = None) -> Optional[DataFrame]:
        """The one read of a snapshot set: one :meth:`_read_snap` per
        ``(sid, paths or None)`` of ``parts`` (one read per snapshot dir,
        each with its own manifest schema), unioned by name — the snap-N
        level is not a partition column.  With live equality-delete
        snapshot ids ``dels``, each leg is tagged ``_seq`` = its snapshot id
        for :meth:`_apply_deletes` and the tag is dropped after; ``seq``
        instead keeps that tag under the given name.  None when ``parts``
        is empty."""
        from pyspark.sql import functions as F
        tag = '_seq' if dels else seq
        out = None
        for sid, paths in parts:
            part = self._read_snap(spark, sid, paths)
            if tag:
                part = part.withColumn(tag, F.lit(sid).cast('int'))
            out = part if out is None else out.unionByName(part, allowMissingColumns=True)
        if dels and out is not None:
            out = self._apply_deletes(spark, out, dels).drop('_seq')
        return out

    def read(self, spark: SparkSession, snapshot_id: int = None) -> DataFrame:
        """Read the table at a snapshot (default: current). Time travel =
        union of data files of the snapshot's live set, minus the rows
        matched by live equality-delete snapshots (merge-on-read; a delete
        applies only to snapshots that predate it).  The no-deletes fast
        path adds nothing to the plan."""
        sid = self._resolve(snapshot_id)
        data, dels = self._split_live(sid)
        live = [c for c in data
                if os.path.isdir(os.path.join(self.data_dir, f'snap-{c}'))]
        # a metadata-only snapshot (expire surgery, empty watermark append)
        # never wrote a data dir — skip it; a snapshot that HAS manifest
        # entries but no dir was vacuumed: raise, don't silently drop rows
        gone = [c for c in data
                if c not in live and self.snapshot(c)['manifest']['entries']]
        if gone:
            raise ValueError(f'snapshot(s) {gone} live at {sid} have no data '
                             f'dirs: time travel to a vacuumed snapshot')
        if not live:
            # fully-expired / metadata-only lineage (e.g. retention aged out
            # every raw row after it was rolled up, leaving only watermark
            # appends): an Iceberg table whose data files all expired still
            # reads as EMPTY with the table schema — a downstream refresh
            # must no-op, not crash
            from pyspark.sql import types as T
            schema = T.StructType.fromJson(self._data_snapshot(sid)['schema'])
            return spark.createDataFrame([], schema)
        return self._read_snaps(spark, [(c, None) for c in live], dels)

    def stream_read(self, spark: SparkSession, schema=None) -> DataFrame:
        """Structured-Streaming source over this table, planned from its
        manifests (:class:`_SnapshotStream`): an offset is a snapshot id on
        the current lineage, and a micro-batch reads the files of the
        CONTENT snapshots committed since the last one (appends, upsert
        data parts, incremental refreshes).  Maintenance rewrites (compact,
        expire, tier-compact, delete key-files, delete-cow, refresh-full)
        are skipped, so batch table maintenance can run concurrently without
        the stream double-counting rewritten rows.  Staged, crashed and
        orphaned snapshots are never seen (the offset is the version hint),
        and a rollback under the stream raises instead of re-reading.

        Out of contract: commits that logically MUTATE reflected rows —
        ``upsert`` updates and ``delete_keys``/``delete_where``
        retractions.  An append stream cannot retract emitted aggregates;
        take the tier over with a batch ``ContinuousAggregate.refresh``
        (full recompute) after such commits.

        ``vacuum`` remains subject to the standard streaming-read rule
        (Iceberg has the same one): reclaim only files the stream has
        already processed — schedule vacuum at least one trigger interval
        behind the stream, or a planned-but-unread file can disappear
        mid-batch."""
        if schema is None:
            schema = self.read(spark).schema
        # Python sources cannot implement availableNow, and without the
        # wrapper Spark runs such a trigger as ONE batch: no trailing
        # no-data batch, so a watermarked tier would emit its closed
        # buckets a run late.  The wrapper takes latestOffset once at start
        # and drains to it — exact here, where the offset is the hint.
        spark.conf.set('spark.sql.streaming.triggerAvailableNowWrapper.enabled',
                       'true')
        spark.dataSource.register(_SnapshotStream)
        return (spark.readStream.format(_SnapshotStream.name())
                .schema(schema).load(self.root))

    def _live_snapshots(self, snapshot_id: int) -> list:
        """Snapshot ids whose data files are visible at ``snapshot_id``,
        newest first: the ``live`` list its json records ([] below 0)."""
        return [c for c, _ in self._live(snapshot_id)]

    def _live(self, snapshot_id: int) -> list:
        return self.snapshot(snapshot_id)['live'] if snapshot_id >= 0 else []

    def _data_snapshot(self, snapshot_id: int) -> dict:
        """Newest live DATA snapshot at ``snapshot_id`` (the snapshot itself
        when none is live): its ``schema`` and ``partition_spec`` are the
        table's.  A 'delete' snapshot records its key-file layout instead,
        so neither may be taken from the current snapshot."""
        data, _ = self._split_live(snapshot_id)          # newest first
        return self.snapshot(data[0] if data else snapshot_id)

    def _split_live(self, snapshot_id: int):
        """Live snapshots split into (data, equality-delete) ids.  A
        'delete' snapshot's files hold KEY TUPLES, not table rows — they
        must never enter a data union."""
        live = self._live(snapshot_id)
        return ([c for c, k in live if k == 'data'],
                [c for c, k in live if k == 'delete'])

    # -- row-level deletes -----------------------------------------------------

    def delete_keys(self, keys_df: DataFrame, key_cols, properties: dict = None) -> dict:
        """MERGE-ON-READ equality delete (Iceberg v2 equality-delete files):
        commit the key tuples as a 'delete' snapshot; no data file is
        rewritten.  Readers anti-join the keys against rows of EARLIER
        snapshots only (sequence-number semantics) — a row re-inserted
        AFTER the delete survives, which is what makes
        delete-then-reingest (the GDPR / corpus-purge loop of an LLM data
        pipeline) correct without coordination.

        The write is O(|keys|) regardless of table size — at 10^12-sequence
        scale that is the difference between committing a purge list and
        rewriting 100 TB.  The read-time cost is one anti-join per key set,
        planned from the delete side's size (compact() folds the deletes
        away when they accumulate).  Incremental readers
        (:meth:`read_delta`) RAISE on an in-range delete, so a continuous
        aggregate falls back to full recompute — a delete invalidates
        previously-aggregated history, exactly TimescaleDB's rule that
        data-modifying operations re-trigger the aggregate."""
        cols = list(key_cols)
        props = dict(properties or {})
        props.update({'operation': 'delete', 'equality_cols': cols})
        return self.append(keys_df.select(*cols).dropDuplicates(cols),
                           partition_by=(), properties=props)

    def _apply_deletes(self, spark: SparkSession, df: DataFrame, delete_sids) -> DataFrame:
        """Anti-join equality-delete snapshots against ``df`` (which must
        carry ``_seq`` = origin snapshot id).  One left_anti per distinct
        equality-column set, with no broadcast hint: the key side grows
        with the deletes, so the join strategy is the planner's (and AQE's)
        choice from its size.  A delete applies only to rows whose snapshot
        PREDATES it (``_seq < _del_seq``).  Null-safe equality (Iceberg: a
        null key matches a null value)."""
        groups = {}
        for c in delete_sids:
            cols = tuple(self.snapshot(c)['manifest']['properties']['equality_cols'])
            groups.setdefault(cols, []).append(c)
        for cols, sids in sorted(groups.items()):
            dels = self._read_snaps(
                spark, [(c, None) for c in sids if os.path.isdir(
                    os.path.join(self.data_dir, f'snap-{c}'))], seq='_del_seq')
            if dels is None:
                continue
            cond = df['_seq'] < dels['_del_seq']
            for k in cols:
                cond = cond & df[k].eqNullSafe(dels[k])
            df = df.join(dels, on=cond, how='left_anti')
        return df

    def delete_where(self, spark: SparkSession, predicates) -> dict:
        """COPY-ON-WRITE predicate delete: rewrite only the live snapshots
        whose manifest stats say they MAY contain matching rows (same
        conjunctive ``[(col, op, value)]`` form as :meth:`plan_files`);
        snapshots the stats prove all-matching are dropped metadata-only,
        provably-disjoint snapshots are untouched.  Committed as ONE atomic
        'delete-cow' snapshot.  Cost is O(straddling bytes), not O(table) —
        range-clustered writes (``append(cluster_by=...)``) are what make
        the straddle set small.

        Null semantics: predicates are null-rejecting comparisons, so a row
        where the predicate is NULL does NOT match and is KEPT.  Pending
        merge-on-read deletes on the rewritten snapshots are applied during
        the rewrite (the rewritten rows get a new, higher sequence number,
        which would otherwise detach them from older delete files)."""
        preds = list(predicates)
        rep = self._rewrite_where(spark, preds, {
            'operation': 'delete-cow',
            'predicates': [[c, op, [_norm_stat(x) for x in v]
                            if op == 'in' else _norm_stat(v)]
                           for c, op, v in preds]})
        return {k: rep[k] for k in ('dropped_snapshots', 'rewritten_snapshots')}

    def _rewrite_where(self, spark: SparkSession, preds, properties: dict) -> dict:
        """Copy-on-write core of :meth:`delete_where` and
        :meth:`expire_before`: remove the rows matching the conjunctive
        ``preds`` from the current table in ONE atomic snapshot.

        Live data snapshots are classified by manifest stats alone:
        provably disjoint (or row-less) ones are untouched, ones the stats
        prove all-matching are dropped metadata-only, the rest STRADDLE and
        are rewritten to their rows where the predicate is not TRUE (a NULL
        predicate keeps the row).  Pending merge-on-read deletes on the
        straddlers are applied during the rewrite — the rewritten rows get
        a new, higher sequence number, which would otherwise detach them
        from older delete files.  Equality-delete snapshots are never
        candidates: they stay live for their surviving targets.  Returns
        the dropped/rewritten snapshot ids and their bytes."""
        from pyspark.sql import functions as F
        cur = self._resolve()
        data_live, del_live = self._split_live(cur)
        drop_whole, straddle = [], []
        dropped_bytes = rewritten_bytes = 0
        for c in data_live:
            # empty files (0 footer rows) carry no stats and no data: they
            # must not force a snapshot into 'straddling'
            entries = [e for e in self.snapshot(c)['manifest']['entries']
                       if e.get('rows') != 0]
            if not any(self._entry_matches(e, preds) for e in entries):
                continue                          # disjoint or row-less
            nbytes = sum(e['bytes'] for e in entries)
            if all(self._entry_all_match(e, preds) for e in entries):
                drop_whole.append(c)
                dropped_bytes += nbytes
            else:
                straddle.append(c)
                rewritten_bytes += nbytes
        rep = {'dropped_snapshots': sorted(drop_whole),
               'rewritten_snapshots': sorted(straddle),
               'dropped_bytes': dropped_bytes, 'rewritten_bytes': rewritten_bytes}
        if not drop_whole and not straddle:
            return rep
        props = {**properties, 'dropped_snapshots': len(drop_whole),
                 'rewritten_snapshots': len(straddle)}
        layout = self.snapshot(data_live[0])   # the newest live data snapshot
        if straddle:
            surv = self._read_snaps(spark, [(c, None) for c in straddle], del_live)
            surv = surv.filter(~F.coalesce(self._predicate_expr(preds), F.lit(False)))
            self.append(surv, partition_by=layout.get('partition_spec', []),
                        invalidates=drop_whole + straddle, properties=props)
        else:
            # every target dropped whole: data-less manifest surgery
            self._commit(self._next_sid(), cur, drop_whole, props, layout['schema'],
                         layout.get('partition_spec', []), [])
        return rep

    @staticmethod
    def _entry_all_match(entry: dict, predicates) -> bool:
        """Do the manifest stats PROVE every row of this file satisfies ALL
        predicates?  Conservative: missing stats, nulls present, or a
        not-provable bound means False (the file is rewritten, never
        wrongly dropped)."""
        stats = entry.get('stats', {})
        for col, op, val in predicates:
            if op == 'in':
                # provable only when the file is single-valued on the column
                # and that value is in the set (per-value '=' proof)
                if not any(IcebergishTable._entry_all_match(entry, [(col, '=', v)])
                           for v in val):
                    return False
                continue
            s = stats.get(col)
            nval = _norm_stat(val)
            if not s or nval is None or s.get('nulls', 1) != 0:
                return False
            lo, hi = s['min'], s['max']
            if isinstance(nval, str):
                # string max bounds are truncated-and-incremented (strict
                # upper bounds, possibly exceeding the true max): only the
                # untruncated case is exact enough to prove equality
                if len(str(hi)) >= _STR_STAT_LEN or len(str(lo)) >= _STR_STAT_LEN:
                    return False
            if isinstance(nval, str) != isinstance(lo, str):
                return False
            if not ((op == '=' and lo == nval == hi)
                    or (op == '<' and hi < nval)
                    or (op == '<=' and hi <= nval)
                    or (op == '>' and lo > nval)
                    or (op == '>=' and lo >= nval)):
                return False
        return True

    def read_delta(self, spark: SparkSession, from_snapshot_id: int,
                   to_snapshot_id: int = None, tolerate_ops=()) -> Optional[DataFrame]:
        """Rows visible at ``to`` but not at ``from`` — the incremental-scan
        unit a continuous aggregate refreshes from (Iceberg's incremental
        append scan).  Returns None when the delta is empty.

        Only valid for APPEND-ONLY history between the two snapshots: if any
        file live at ``from`` is gone at ``to`` (a compaction or overwrite
        crossed the range), an additive refresh would double- or
        under-count, so this raises and the caller must fall back to a full
        recompute.  A compaction committed BEFORE ``from`` is fine — its
        invalidations are already part of the ``from`` view.

        ``tolerate_ops`` (e.g. ``('expire', 'compact')``): maintenance
        snapshots whose ``operation`` property is listed are NOT new data —
        they rewrite or retire rows the ``from`` view already contained.
        Such a snapshot is EXCLUDED from the delta, and the invalidations it
        caused are tolerated, iff EVERYTHING it invalidates was live at
        ``from`` (fully-reflected content; TimescaleDB's "retention and
        reorder don't re-trigger a continuous aggregate").  A maintenance
        snapshot that folded in any unreflected snapshot still raises —
        excluding it would lose that data, including it would double-count
        the reflected part."""
        to_sid = self._resolve(to_snapshot_id)
        live_to = set(self._live_snapshots(to_sid))
        live_from = set(self._live_snapshots(from_snapshot_id)) \
            if from_snapshot_id >= 0 else set()
        new = sorted(live_to - live_from)
        excluded, blamed = set(), set()
        for c in new:
            snap = self.snapshot(c)
            inv = set(snap.get('invalidates', []))
            op = snap['manifest']['properties'].get('operation')
            if op == 'delete':
                # a merge-on-read equality delete retracts rows from
                # snapshots the 'from' view already reflected — an additive
                # delta cannot express a retraction, so incremental refresh
                # is invalid regardless of tolerate_ops
                raise ValueError(
                    f'row-level delete snapshot {c} committed in range '
                    f'{from_snapshot_id}..{to_sid}; incremental refresh is '
                    f'invalid — recompute from scratch')
            if tolerate_ops and op in tolerate_ops and inv and inv <= live_from:
                excluded.add(c)
                blamed |= inv
        removed = live_from - live_to
        unexplained = removed - blamed
        if unexplained:
            raise ValueError(
                f'history {from_snapshot_id}..{to_sid} is not append-only '
                f'(snapshots {sorted(unexplained)} were invalidated in-range '
                f'by non-maintenance or partially-unreflected commits); '
                f'incremental refresh is invalid — recompute from scratch')
        return self._read_snaps(spark, [
            (c, None) for c in new if c not in excluded
            and os.path.isdir(os.path.join(self.data_dir, f'snap-{c}'))])

    # -- stats-pruned scan planning -----------------------------------------

    @staticmethod
    def _entry_matches(entry: dict, predicates) -> bool:
        """May this data file contain rows satisfying ALL predicates?
        Conservative: a column with no partition value and no footer stats
        (older manifests, all-null groups, unsupported types) never prunes.
        Predicates are null-rejecting comparisons, so null counts are
        irrelevant to the keep/prune decision."""
        part = entry.get('partition', {})
        stats = entry.get('stats', {})
        blooms = entry.get('blooms', {})
        for col, op, val in predicates:
            if op == 'in':
                # batch point lookup (col IN (v1..vn), ONE scan for a purge
                # list / needle set): the file may match iff ANY value may —
                # each value gets the full '=' treatment (partition, stats,
                # bloom) below
                if not any(IcebergishTable._entry_matches(entry, [(col, '=', v)])
                           for v in val):
                    return False
                continue
            if op == '=' and col in blooms:
                if not _bloom_may_contain(blooms[col], val):
                    return False
            if col in part:
                # hidden-partition values are path strings.  Equality
                # compares the string form; range ops compare TYPED — the
                # path value coerced to the predicate value's type (Iceberg
                # keeps identity-partition values typed in the manifest for
                # exactly this) — because an identity-partitioned file
                # carries NO footer stats for its partition column, so this
                # is the only chance to prune it.  Coercion failure
                # (e.g. __HIVE_DEFAULT_PARTITION__) falls through
                # conservatively.
                if op == '=':
                    eq = _partition_eq(part[col], val)
                    if eq is False:
                        return False
                    if eq is True:
                        continue
                    # undecidable coercion: fall through to footer stats
                pv = _coerce_partition_value(part[col], val)
                if pv is not None:
                    if ((op == '<' and pv >= val)
                            or (op == '<=' and pv > val)
                            or (op == '>' and pv <= val)
                            or (op == '>=' and pv < val)):
                        return False
                    continue
            s = stats.get(col)
            nval = _norm_stat(val)
            if not s or nval is None:
                continue
            lo, hi = s['min'], s['max']
            if isinstance(nval, str) != isinstance(lo, str):
                continue                      # type mismatch: never prune
            if ((op == '=' and (nval < lo or hi < nval))
                    or (op == '<' and lo >= nval)
                    or (op == '<=' and lo > nval)
                    or (op == '>' and hi <= nval)
                    or (op == '>=' and hi < nval)):
                return False
        return True

    def plan_files(self, predicates, snapshot_id: int = None) -> dict:
        """Manifest-only scan planning: which live data files can contain
        rows matching the conjunctive ``predicates``
        (``[(col, op, value)]``, op in ``= < <= > >= in``; timestamp values
        as ``datetime``; ``in`` takes a list — the batch point-lookup form,
        one scan for a whole needle set).  Pure metadata — no parquet data
        is read.  Returns
        ``{'kept': {snap_dir: [abs paths]}, 'n_kept', 'n_total'}``.

        This is the Iceberg scan-planning step that makes a 10^12-sequence
        table queryable: for a time- or source-bounded query the driver
        plans splits for the matching files only, instead of one task per
        file of 100 TB.  File-level min/max subsumes partition pruning and
        also prunes WITHIN a partition (e.g. append-ordered ts)."""
        sid = self._resolve(snapshot_id)
        preds = list(predicates)
        kept, n_kept, n_total = {}, 0, 0
        data_live, _ = self._split_live(sid)
        for c in data_live:
            snap_dir = os.path.join(self.data_dir, f'snap-{c}')
            for entry in self.snapshot(c)['manifest']['entries']:
                if entry.get('rows') == 0:
                    continue                 # empty file: nothing to match
                n_total += 1
                if self._entry_matches(entry, preds):
                    kept.setdefault(snap_dir, []).append(
                        os.path.join(self.root, entry['path']))
                    n_kept += 1
        return {'kept': kept, 'n_kept': n_kept, 'n_total': n_total}

    @staticmethod
    def _predicate_expr(predicates):
        from pyspark.sql import functions as F
        ops = {'=': lambda c, v: c == v, '<': lambda c, v: c < v,
               '<=': lambda c, v: c <= v, '>': lambda c, v: c > v,
               '>=': lambda c, v: c >= v,
               'in': lambda c, v: c.isin(list(v))}
        expr = F.lit(True)
        for col, op, val in predicates:
            expr = expr & ops[op](F.col(col),
                                  val if op == 'in' else F.lit(val))
        return expr

    def scan(self, spark: SparkSession, predicates, snapshot_id: int = None,
             with_residual: bool = True) -> DataFrame:
        """Predicate-pruned read: :meth:`plan_files` picks the files, Spark
        reads only those (``basePath`` per snapshot dir so hidden-partition
        columns survive), and the exact predicate is re-applied as a
        residual filter (file pruning is necessarily approximate —
        min/max keeps any file whose RANGE intersects).  Live equality
        deletes are applied exactly as in :meth:`read` (the pruned subset
        still carries its origin snapshot's sequence number)."""
        plan = self.plan_files(predicates, snapshot_id)
        expr = self._predicate_expr(predicates)
        if not plan['kept']:
            return self.read(spark, snapshot_id).filter(expr).limit(0)
        _, dels = self._split_live(self._resolve(snapshot_id))
        out = self._read_snaps(spark, [
            (int(os.path.basename(snap_dir).split('-')[-1]), sorted(paths))
            for snap_dir, paths in sorted(plan['kept'].items())], dels)
        return out.filter(expr) if with_residual else out

    def expire_before(self, spark: SparkSession, cutoff, ts_col: str = 'ts') -> dict:
        """Retention expiry by MANIFEST STATS: logically drop every live
        snapshot whose files' max(``ts_col``) all predate ``cutoff`` —
        metadata-only, the expired 100 TB is never read — and rewrite only
        the snapshots that STRADDLE the cutoff (filtered to surviving
        rows).  With time-ordered arrival (the rollup pipeline's natural
        append order) at most one snapshot straddles, so expiry cost is
        O(boundary), not O(history).  Snapshots lacking stats for
        ``ts_col`` are conservatively treated as straddling (rewritten via
        the exact filter — never silently dropped).  Committed as ONE
        atomic snapshot invalidating the expired + rewritten set;
        :meth:`vacuum` reclaims the bytes.

        This is :meth:`delete_where` of ``ts_col < cutoff`` with the
        ``'expire'`` operation (which :meth:`read_delta` can tolerate), so
        it follows the same null rule: a row whose ``ts_col`` is NULL is
        not older than the cutoff and is KEPT — whether its snapshot is
        untouched or rewritten.  A snapshot holding null timestamps is
        therefore never dropped whole; its old rows go by rewrite."""
        cut = _norm_stat(cutoff)
        if cut is None:
            raise ValueError(f'unsupported cutoff type {type(cutoff)}')
        return self._rewrite_where(spark, [(ts_col, '<', cutoff)], {
            'operation': 'expire', 'cutoff': cut, 'ts_col': ts_col})

    def properties_by_snapshot(self) -> dict:
        return {s['snapshot_id']: s['manifest']['properties'] for s in self.history()}

    def vacuum(self, retain_staged: bool = True) -> list:
        """Physically delete data files of snapshots invalidated by the
        current lineage (logical deletes become physical) AND of snapshots
        not reachable from it at all — :meth:`rollback` forks and crashed
        multi-snapshot commits leave such orphans, whose ids are never
        reused but whose bytes would otherwise leak forever.  Returns the
        removed snapshot ids.  Metadata is kept (history stays auditable);
        time travel to a vacuumed snapshot raises on read.

        A data dir with no snapshot json is a crashed append's: reclaimed
        when its id is below the version hint.  Above the hint it may be an
        in-flight :meth:`upsert` or :meth:`stage` write, and is left alone.

        Staged-but-unpublished WAP snapshots (``wap.staged`` property) are
        deliberately unreachable between :meth:`stage` and :meth:`publish`
        — they are RETAINED by default (Iceberg branch/ref retention), not
        treated as orphans; pass ``retain_staged=False`` to reclaim
        abandoned stages (a later publish of one then raises instead of
        silently publishing missing data)."""
        import shutil
        dead, reachable = set(), set()
        for snap in self.lineage():
            reachable.add(snap['snapshot_id'])
            dead.update(snap.get('invalidates', []))
        on_disk = set(self._snapshot_ids_on_disk())
        hint = self.current_snapshot_id()
        dead.update(n for n in self._data_dir_ids()
                    if n < hint and n not in on_disk)
        for sid in on_disk:
            if sid in reachable:
                continue
            if retain_staged and sid not in dead:
                props = self.snapshot(sid)['manifest']['properties']
                if props.get('wap.staged') == 'true':
                    continue                # live WAP stage, not an orphan
            dead.add(sid)                   # orphaned fork / crash debris
        removed = []
        for sid in sorted(dead):
            d = os.path.join(self.data_dir, f'snap-{sid}')
            if os.path.isdir(d):
                shutil.rmtree(d)
                removed.append(sid)
        return removed

    def compact(self, spark: SparkSession, target_file_bytes: int = 128 * 1024 * 1024,
                partition_by=None) -> dict:
        """Rewrite every live data file into one new snapshot with ~target-
        sized files (Iceberg's ``rewrite_data_files`` small-file compaction).

        A rollup pipeline appends a snapshot per micro-batch/bucket, so the
        live file count grows linearly with commits while file sizes stay
        tiny — the classic small-files problem: at 10^12-sequence scale the
        scan's task count (and the driver's split planning) is dominated by
        file count, not bytes.  Compaction reads the live snapshots once,
        repartitions to ceil(live_bytes / target_file_bytes) output files,
        and commits the rewrite as a snapshot that ``invalidates`` every
        prior live snapshot — readers atomically switch to the packed
        files, time travel to the old snapshots still works until
        :meth:`vacuum` reclaims them.
        """
        import math
        cur = self._resolve()
        live = self._live_snapshots(cur)
        live_bytes = 0
        n_files = 0
        for c in live:
            entries = self.snapshot(c)['manifest']['entries']
            live_bytes += sum(e['bytes'] for e in entries)
            n_files += len(entries)
        spec = partition_by if partition_by is not None \
            else self._data_snapshot(cur).get('partition_spec', [])
        df = self.read(spark).repartition(
            max(1, math.ceil(live_bytes / target_file_bytes)))
        return self.append(
            df, partition_by=spec, invalidates=live,
            properties={'operation': 'compact',
                        'replaced_snapshots': len(live),
                        'replaced_files': n_files,
                        'replaced_bytes': live_bytes,
                        'target_file_bytes': int(target_file_bytes)})


class _SnapshotStream(DataSource):
    """Streaming source over an :class:`IcebergishTable` whose offsets are
    snapshot ids (Delta's streaming source and Iceberg's incremental append
    scan plan the same way: from the table log, never a directory
    listing).  Options: ``path`` = the table root; the schema is the one
    :meth:`IcebergishTable.stream_read` declares."""

    @classmethod
    def name(cls) -> str:
        return 'icebergish_snapshots'

    def streamReader(self, schema) -> '_SnapshotStreamReader':
        return _SnapshotStreamReader(self.options['path'], schema)


class _SnapshotStreamReader(DataSourceStreamReader):

    def __init__(self, root: str, schema):
        self.root = root
        self.schema = schema

    def initialOffset(self) -> dict:
        return {'sid': -1}

    def latestOffset(self) -> dict:
        # the version hint: staged, crashed and orphaned snapshots are
        # never behind it
        return {'sid': IcebergishTable(self.root).current_snapshot_id()}

    def partitions(self, start: dict, end: dict) -> list:
        """One partition per non-empty data file of the content snapshots
        in (start, end] on ``end``'s lineage.  Raises ``ValueError`` when
        ``start`` is no longer an ancestor of ``end`` (a rollback under the
        stream): the rows already emitted are no longer the table's."""
        stop = start['sid']
        parts = []
        for snap in IcebergishTable(self.root).lineage(end['sid']):
            if snap['snapshot_id'] == stop:
                break
            if snap['manifest']['properties'].get('operation') in _MAINTENANCE_OPS:
                continue
            parts += [InputPartition((os.path.join(self.root, e['path']),
                                      e['partition']))
                      for e in snap['manifest']['entries'] if e['rows'] > 0]
        else:
            if stop >= 0:
                raise ValueError(
                    f'stream offset snapshot {stop} is not an ancestor of '
                    f'snapshot {end["sid"]} of table {self.root}: the table '
                    f'was rolled back under the stream; restart it from a '
                    f'new checkpoint')
        return parts

    def read(self, partition: InputPartition):
        """The file's batches with its hidden-partition columns added from
        the manifest entry, each cast to the declared schema (Spark does
        not check batch types against it)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        path, part = partition.value
        target = to_arrow_schema(self.schema)
        for batch in pq.ParquetFile(path).iter_batches():
            cols = []
            for field in target:
                if field.name in batch.schema.names:
                    col = batch.column(field.name)
                elif field.name in part:
                    v = part[field.name]
                    col = pa.array([None if v == '__HIVE_DEFAULT_PARTITION__'
                                    else v] * batch.num_rows, pa.string())
                    if pa.types.is_timestamp(field.type):  # path values: UTC
                        col = col.cast(pa.timestamp(field.type.unit))
                else:
                    col = pa.nulls(batch.num_rows)
                cols.append(col.cast(field.type))
            yield pa.RecordBatch.from_arrays(cols, schema=target)
