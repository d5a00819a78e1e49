"""``bamboo_published``: the published table as a FIRST-CLASS Spark
data source (PySpark 4 Python DataSource API) — batch and streaming.

    from bamboo_spark.sources.published import register
    register(spark)

    # batch: SNAPSHOT-PINNED manifest-resolved read — every action on
    # this DataFrame sees the version committed at load time, even if
    # writers commit between actions (repeatable reads)
    df = spark.read.format("bamboo_published").load(table_dir)

    # index-driven FILE SKIPPING, safe by default: pruning bounds are
    # LOAD OPTIONS (fixed per load — they cannot leak into another
    # query the way pushed filters can, see below), JSON-typed:
    (spark.read.format("bamboo_published")
        .option("skip_eq", '{"user_id": 42}')     # per-file blooms
        .option("skip", '{"day": ["2024-01-01", null]}')  # min/max
        .load(table_dir))
    # the caller still applies the row filter (.where(...)) — options
    # only shrink the FILE list, conservatively

    # streaming: offsets ARE snapshot versions; each micro-batch is
    # exactly the files APPENDED between two committed versions (the
    # read_appends delta algebra — dataChange=false rewrites contribute
    # nothing, histories that folded undelivered appends raise rather
    # than deliver wrong rows). Exactly-once composes from version
    # monotonicity + Spark's offset log.
    (spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")   # 0 = full history; default =
        .load(table_dir)                  # current version (new rows only)
        .writeStream...)

Executors read their assigned parquet file with pyarrow and return
Arrow RecordBatches straight into Spark's columnar pipeline (no
row-at-a-time Python). Hive partition-column values are parsed from
the file path and attached as constant Arrow columns, and the
snapshot's DELETE VECTORS are masked out positionally before the
batches leave the executor, so merge-on-read deletes round-trip
exactly as in ``read_published``.

BACKENDS: plain paths and ``file:`` URIs read via the local
filesystem; remote URIs (``hdfs:``, ``s3://``, ``gs://`` …) resolve
METADATA through the driver's Hadoop FileSystem (same as every publish
op) and DATA through ``pyarrow.fs.FileSystem.from_uri`` on executors —
present for S3/GCS/HDFS when the corresponding pyarrow backend is
available, with a clear task-side error naming the scheme otherwise.

WHY FILTER PUSHDOWN IS OPT-IN (measured on Spark 4.1, re-measured on
4.1.2 round 11; see tests/test_published_source.py): Spark builds the
Python reader's partition list ONCE per loaded DataFrame and caches it
in the shared plan — ``pushFilters`` from the FIRST filtered action
prunes the file list, and a LATER, broader action on the same
DataFrame silently reuses the pruned list (missing rows; the round-11
repro: filtered count 1, then unfiltered count 504 of 4000 on one
DataFrame). Per-load reader instances cannot fix this (the reuse is
intra-load: the second action performs NO planning round-trip to the
Python worker at all — pushFilters isn't re-invoked, the cached
partition list is read straight from the plan), so no reader-side
change can make pushdown default-safe at this API. The default reader
therefore reports every filter unsupported and scans the pinned
snapshot fully; ``.option("pushdown", "true")`` enables it for the
one-query-per-load() pattern, and the ``skip``/``skip_eq`` options
above are the always-safe pruning interface (fixed per load by
construction).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import List, Optional, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType


def _join(table_dir: str, rel: str) -> str:
    # EXTERNAL absolute refs (a shallow clone's manifest re-citing the
    # source's files; publish._is_ext) are already full paths/URIs
    if rel.startswith("/") or rel.startswith("file:") or "://" in rel:
        return rel
    return table_dir.rstrip("/") + "/" + rel


def _strip_file_uri(p: str) -> str:
    """``file:``-URI → local path (handles file:/x, file://x, file:///x)."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return p


def _open_parquet(loc: str, columns=None, filters=None):
    """Executor-side open: (pyarrow.parquet table read) for a data-file
    location that may be a plain path, a ``file:`` URI, or a remote
    URI. Remote schemes route through ``pyarrow.fs.FileSystem.from_uri``
    — S3/GCS/HDFS when pyarrow's backend is present; anything else
    raises naming the scheme instead of an opaque task failure.
    ``columns``/``filters`` pass through to pyarrow (column pruning +
    row-group predicate pushdown — what the delete-vector sidecar reads
    use to touch only their file's rows)."""
    import pyarrow.parquet as pq

    kw = {"columns": columns, "filters": filters}
    if "://" not in loc or loc.startswith("file:"):
        return pq.read_table(_strip_file_uri(loc), **kw)
    from pyarrow.fs import FileSystem

    try:
        fs, path = FileSystem.from_uri(loc)
    except Exception as e:
        raise RuntimeError(
            "bamboo_published: no pyarrow filesystem for scheme %r "
            "(%s) — executors read data files directly; install the "
            "pyarrow backend for this store or read via "
            "read_published() (JVM readers)"
            % (loc.split("://", 1)[0], e)
        ) from e
    return pq.read_table(path, filesystem=fs, **kw)


def _ref_positions(ref) -> Optional[set]:
    """EXECUTOR-side resolution of a positions ref (publish.
    ``_dv_ref_of`` with the dataset path pre-resolved to a location):
    ``(loc, key)`` reads the file's rows of the BITMAP sidecar (chunk +
    16x64-bit words per row) and unpacks them with numpy. The read is
    column-pruned and predicate-pushed, so a task touches only its own
    file's positions no matter how large the commit's dataset is."""
    if ref is None:
        return None
    import numpy as np

    loc, key = ref
    tbl = _open_parquet(
        loc,
        columns=["_dv_chunk", "_dv_bits"],
        filters=[("_dv_file", "=", key)],
    )
    if tbl.num_rows == 0:
        return set()
    chunks = np.asarray(tbl["_dv_chunk"].to_pylist(), dtype=np.int64)
    # the sidecar stores 64-bit words as SIGNED longs (Spark has no
    # uint64): a position with p % 64 == 63 packs as a NEGATIVE long,
    # and a direct negative->uint64 asarray is deprecated on NumPy 1.x
    # and an OverflowError on NumPy 2.x — go through int64 and
    # reinterpret the bits
    words = np.asarray(
        tbl["_dv_bits"].to_pylist(), dtype=np.int64
    ).view(np.uint64)
    ci, wi, bi = np.nonzero(
        ((words[:, :, None] >> np.arange(64, dtype=np.uint64)) & 1)
        .astype(bool)
    )
    return set(
        (chunks[ci] * (words.shape[1] * 64) + wi * 64 + bi).tolist()
    )


def _loc_ref(table_dir: str, ref) -> Optional[tuple]:
    """A planner's positions ref with its table-relative sidecar
    dataset resolved to a location an executor can open."""
    return None if ref is None else (_join(table_dir, ref[0]), ref[1])


class _ArrowMetaFS:
    """Metadata-read adapter over ``pyarrow.fs`` implementing the slice
    of the publish fs protocol the manifest/segment/dv readers need
    (join, read_text, mtime_ms). The Python DataSource's planning runs
    in a worker WITHOUT a JVM, so the Hadoop FileSystem route every
    publish op uses isn't available — pyarrow's native filesystems
    (S3/GCS/HDFS when present) stand in for remote URIs."""

    def __init__(self, fs):
        self._fs = fs

    def join(self, *parts: str) -> str:
        return "/".join(x.rstrip("/") for x in parts[:-1]) + "/" + parts[-1]

    def read_text(self, p: str) -> str:
        with self._fs.open_input_stream(p) as f:
            return f.read().decode("utf-8")

    def mtime_ms(self, p: str) -> int:
        info = self._fs.get_file_info(p)
        mt = info.mtime
        if mt is None:
            return 0
        return int(mt.timestamp() * 1000)


def _meta_fs(table_dir: str):
    """(fs adapter, fs-NATIVE table dir) for manifest/segment/dv reads.
    Plain paths and ``file:`` URIs use the posix backend; remote URIs
    resolve through ``pyarrow.fs.FileSystem.from_uri`` — raising a
    clear error naming the scheme when no backend exists."""
    if "://" not in table_dir or table_dir.startswith("file:"):
        from bamboo_spark.operators.publish import _PosixFS

        return _PosixFS(), _strip_file_uri(table_dir)
    from pyarrow.fs import FileSystem

    try:
        fs, native = FileSystem.from_uri(table_dir)
    except Exception as e:
        raise ValueError(
            "bamboo_published: no pyarrow filesystem for scheme %r "
            "(%s) — use read_published() (JVM readers) for this store"
            % (table_dir.split("://", 1)[0], e)
        ) from e
    return _ArrowMetaFS(fs), native


def _driver_manifest(table_dir: str):
    """(fs, fs-native dir, manifest) for the committed table."""
    from bamboo_spark.operators.publish import _read_manifest

    fs, native = _meta_fs(table_dir)
    man = _read_manifest(native, fs)
    if man is None:
        raise ValueError(
            "bamboo_published: no committed table at %r" % table_dir
        )
    return fs, native, man


@dataclass
class _FilePartition(InputPartition):
    """One task = one data file (+ its path-borne partition values and
    its delete-vector positions REF — resolved executor-side, see
    ``_ref_positions``). For change-feed reads, ``take_diff`` is a
    ``(cur, prev)`` ref pair whose difference selects exactly the
    newly-deleted row positions, and ``change_type``/
    ``commit_version`` stamp the batch."""

    loc: str             # absolute path or URI
    rel: str             # manifest-relative path (carries col=val segs)
    schema_json: str
    partition_by: tuple
    dv_ref: Optional[tuple] = None     # mask: (sidecar loc, key)
    take_diff: Optional[tuple] = None  # (cur_ref, prev_ref)
    change_type: Optional[str] = None
    commit_version: Optional[int] = None
    # schema-evolved tables: ((logical, physical-or-None), ...) — the
    # file's column resolution after renames/drops; None = identity
    fields: Optional[tuple] = None


def _fields_for(schema_json: str, evo: Optional[dict], rel: str):
    """Per-file (logical, physical) resolution tuple for an EVOLVED
    table (None when the table never evolved): physical name comes
    from the file's stamped field map by id; a logical field whose id
    the file doesn't know was added later — physical None = NULL (a
    same-named physical column must never resurrect)."""
    if not evo:
        return None
    fm = evo["files"][rel]
    names = [f["name"] for f in json.loads(schema_json)["fields"]]
    return tuple(
        (n, fm.get(str(evo["ids"].get(n)))) for n in names
    )


def _partition_values(rel: str, partition_by) -> dict:
    out = {}
    for seg in rel.split("/"):
        if "=" in seg:
            k, v = seg.split("=", 1)
            if k in partition_by:
                out[k] = v
    return out


def _arrow_batches(part: _FilePartition):
    """Arrow RecordBatches for one file, aligned to the MANIFEST schema
    (missing columns -> null, schema-merge semantics; partition
    columns -> constants parsed from the path, cast to the declared
    type), with the snapshot's delete-vector positions masked out.
    Runs on executors."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    spark_schema = StructType.fromJson(json.loads(part.schema_json))
    arrow_schema = to_arrow_schema(spark_schema)
    fmap = dict(part.fields) if part.fields is not None else None
    # partition values parse from the path under the file's PHYSICAL
    # key: a renamed partition column's old files carry old=val path
    # segments, resolved to the logical name by the same field map that
    # resolves data columns (partition-spec evolution)
    raw_pvals = _partition_values(
        part.rel, {s.split("=", 1)[0] for s in part.rel.split("/") if "=" in s}
    )
    pvals = {}
    for logical in part.partition_by:
        phys = (fmap.get(logical) if fmap else None) or logical
        if phys in raw_pvals:
            pvals[logical] = raw_pvals[phys]
    tbl = _open_parquet(part.loc)
    if part.take_diff is not None:
        # change-feed row addresses: newly-deleted = cur minus prev,
        # both resolved here on the executor (sidecar reads)
        cur = _ref_positions(part.take_diff[0]) or set()
        prev = _ref_positions(part.take_diff[1]) or set()
        tbl = tbl.take(sorted(cur - prev))
    else:
        dv_pos = _ref_positions(part.dv_ref)
        if dv_pos:
            import numpy as np

            keep = np.ones(tbl.num_rows, dtype=bool)
            keep[list(dv_pos)] = False
            tbl = tbl.filter(pa.array(keep))
    n = tbl.num_rows
    cols = []
    consts = dict(pvals)
    if part.change_type is not None:
        consts["_change_type"] = part.change_type
        consts["_commit_version"] = part.commit_version
    for f in arrow_schema:
        src = f.name if fmap is None else fmap.get(f.name, f.name)
        if fmap is not None and src is None and f.name not in consts:
            cols.append(pa.nulls(n, f.type))  # added after this file
        elif src is not None and src in tbl.column_names:
            cols.append(tbl[src].cast(f.type))
        elif f.name in consts:
            scalar = pa.scalar(
                str(consts[f.name]), type=pa.string()
            ).cast(f.type)
            cols.append(pa.chunked_array([[scalar.as_py()] * n], f.type))
        else:
            cols.append(pa.nulls(n, f.type))
    out = pa.table(cols, schema=arrow_schema)
    for batch in out.to_batches():
        yield batch


@dataclass
class _RewritePartition(InputPartition):
    """One task = one hive partition's share of a ROW-REWRITING commit
    (CoW update / replaceWhere): ``old``/``new`` are tuples of
    ``(loc, rel, dv_ref, fields)`` for the dropped and added files of
    that partition. The executor reads both sides masked, multiset-
    diffs them (count per full row), and emits the negative diffs as
    deletes and positive diffs as inserts — row-exact parity with the
    batch ``read_changes`` Spark-job diff. Task size is bounded by one
    partition's share of the commit's touched bytes (a replaceWhere
    day-swap diffs day-by-day)."""

    old: tuple
    new: tuple
    schema_json: str       # PLAIN manifest schema (no _change_* cols)
    partition_by: tuple
    commit_version: int = 0


def _rewrite_batches(part: _RewritePartition):
    """Executor-side multiset diff for one rewrite group. Reuses the
    aligned per-file reader for both sides (dv masks, path partition
    values, field-id resolution all apply), then counts per full row
    with pandas (dropna=False: NULL keys group like SQL's GROUP BY)
    and explodes the count deltas back into rows."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    spark_schema = StructType.fromJson(json.loads(part.schema_json))
    arrow_schema = to_arrow_schema(spark_schema)
    names = [f.name for f in arrow_schema]

    def _side(entries) -> pd.DataFrame:
        frames = []
        for loc, rel, dv_ref, fields in entries:
            fp = _FilePartition(
                loc=loc, rel=rel, schema_json=part.schema_json,
                partition_by=part.partition_by, dv_ref=dv_ref,
                fields=fields,
            )
            for b in _arrow_batches(fp):
                frames.append(pa.Table.from_batches([b]).to_pandas())
        if not frames:
            return pd.DataFrame(columns=names)
        return pd.concat(frames, ignore_index=True)

    oc = (
        _side(part.old).groupby(names, dropna=False).size()
        if len(part.old)
        else pd.Series(dtype="int64")
    )
    nc = (
        _side(part.new).groupby(names, dropna=False).size()
        if len(part.new)
        else pd.Series(dtype="int64")
    )
    diff = nc.sub(oc, fill_value=0).astype("int64")
    cdf_schema = to_arrow_schema(
        StructType.fromJson(
            json.loads(_cdf_schema_json(part.schema_json))
        )
    )

    def _emit(mask, change_type: str):
        d = diff[mask]
        if d.empty:
            return None
        rows = d.index.to_frame(index=False)
        rows.columns = names
        reps = np.abs(d.to_numpy()).astype("int64")
        rows = rows.loc[rows.index.repeat(reps)].reset_index(drop=True)
        rows["_change_type"] = change_type
        rows["_commit_version"] = np.int64(part.commit_version)
        # pandas groupby lifts ints to float when a NULL joined the
        # level — from_pandas with the target type maps NaN back to
        # null and restores the declared width
        cols = [
            pa.Array.from_pandas(rows[f.name], type=f.type)
            for f in cdf_schema
        ]
        return pa.table(cols, schema=cdf_schema)

    for tbl in (
        _emit(diff < 0, "delete"),
        _emit(diff > 0, "insert"),
    ):
        if tbl is not None:
            for batch in tbl.to_batches():
                yield batch


def _parse_json_option(options: dict, key: str) -> dict:
    """A load option holding a JSON object ({} when absent). Option
    KEYS are lowercased by Spark; JSON VALUES are not — which is why
    the pruning bounds ride one JSON value instead of dotted keys
    (column names keep their case)."""
    raw = None
    for k, v in (options or {}).items():
        if str(k).lower() == key:
            raw = v
    if not raw:
        return {}
    out = json.loads(raw)
    if not isinstance(out, dict):
        raise ValueError(
            "bamboo_published: option %r must be a JSON object" % key
        )
    return out


class _PublishedBatchReader(DataSourceReader):
    """SNAPSHOT-PINNED reader: the manifest is resolved ONCE (in the
    DataSource constructor, driver-side) and every action on the loaded
    DataFrame reads exactly that version's files — a commit landing
    between two actions cannot split them across snapshots
    (read_published pins the same way).

    Deliberately does NOT implement ``pushFilters`` — see the module
    docstring for the measured intra-load plan-caching poisoning.
    Index-driven skipping comes from the ``skip``/``skip_eq`` load
    options (safe: fixed per load) or the opt-in pushdown reader."""

    def __init__(
        self,
        table_dir: str,
        pinned: dict,
        skip: Optional[dict] = None,
        skip_eq: Optional[dict] = None,
    ):
        self._dir = table_dir
        self._pinned = pinned  # {schema, partition_by, files, stats,
        #                        blooms, dv} — plain picklable data
        self._skip = dict(skip or {})
        self._eq = dict(skip_eq or {})
        self._lo: dict = {}
        self._hi: dict = {}
        for c, bound in self._skip.items():
            lo, hi = bound
            if lo is not None:
                self._lo[c] = lo
            if hi is not None:
                self._hi[c] = hi

    def partitions(self) -> List[InputPartition]:
        from bamboo_spark.operators.publish import _dv_ref_of, _prune_eq

        p = self._pinned
        files = list(p["files"])
        res = {"file_stats": p["stats"], "file_blooms": p["blooms"]}
        if self._eq:
            files = _prune_eq(res, files, self._eq)
        if self._lo or self._hi:
            stats = p["stats"]
            cols = set(self._lo) | set(self._hi)

            def _keep(f: str) -> bool:
                st = stats.get(f) or {}
                for c in cols:
                    mm = st.get(c)
                    if mm is None:
                        continue
                    mn, mx = mm
                    lo, hi = self._lo.get(c), self._hi.get(c)
                    try:
                        if (hi is not None and mn > hi) or (
                            lo is not None and mx < lo
                        ):
                            return False
                    except TypeError:
                        pass  # incomparable: stay conservative
                return True

            files = [f for f in files if _keep(f)]
        if (self._skip or self._eq) and p.get("partition_by"):
            # HIDDEN-PARTITIONING path pruning (mirrors
            # read_published): a bound on a transform SOURCE column
            # drops whole partition directories; runs on the driver
            # during planning, where an active session is available
            # for bucket-probe hash parity (absent → conservative)
            from pyspark.sql import SparkSession

            from bamboo_spark.operators.publish import _pt_prune_files

            files = _pt_prune_files(
                files, p.get("partition_spec"), p["partition_by"],
                self._skip or None, self._eq or None,
                SparkSession.getActiveSession(),
            )
        dv = p.get("dv") or {}
        return [
            _FilePartition(
                loc=_join(self._dir, f),
                rel=f,
                schema_json=p["schema"],
                partition_by=tuple(p["partition_by"]),
                dv_ref=_loc_ref(self._dir, _dv_ref_of(dv.get(f), f)),
                fields=_fields_for(p["schema"], p.get("evo"), f),
            )
            for f in files
        ]

    def read(self, partition: _FilePartition):
        return _arrow_batches(partition)


class _PublishedPushdownReader(_PublishedBatchReader):
    """Opt-in (``.option("pushdown", "true")``): equality/range
    predicates prune the FILE LIST via the per-file blooms and min/max
    — Spark still re-applies every filter row-side (we report them all
    unsupported), so pruning is purely an optimization and bloom false
    positives are harmless.

    SHARP EDGE (why this is opt-in; measured, see module docstring):
    use a FRESH ``load()`` per query. Spark computes the partition list
    once per loaded DataFrame — a broader action after a filtered one
    on the SAME DataFrame reuses the pruned file list."""

    def pushFilters(self, filters):
        for f in filters:
            try:
                col = f.attribute[0] if len(f.attribute) == 1 else None
            except Exception:
                col = None
            if col is not None:
                if isinstance(f, EqualTo):
                    self._eq[col] = f.value
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    self._lo[col] = f.value
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    self._hi[col] = f.value
            yield f  # unsupported: Spark keeps the row-side filter


def _cdf_schema_json(schema_json: str) -> str:
    """Table schema + the change-feed stamp columns."""
    s = StructType.fromJson(json.loads(schema_json))
    return s.add("_change_type", "string").add(
        "_commit_version", "long"
    ).json()


class _PublishedStreamReader(DataSourceStreamReader):
    """Offsets are snapshot versions; metadata reads go through the
    driver-side backend routing (remote URIs included). Data files are
    opened executor-side via pyarrow (see _open_parquet)."""

    def __init__(self, table_dir: str, options: dict):
        self._dir = table_dir
        # Spark normalizes option keys to lowercase — look up both
        sv = "latest"
        self._ignore_deletes = False
        self._cdf = False
        st_ts = None
        for k, v in (options or {}).items():
            if str(k).lower() == "startingversion":
                sv = v
            if str(k).lower() == "startingtimestamp":
                st_ts = int(v)
            if str(k).lower() == "ignoredeletes":
                self._ignore_deletes = str(v).lower() == "true"
            if str(k).lower() == "readchangefeed":
                self._cdf = str(v).lower() == "true"
        if st_ts is not None:
            # Delta's startingTimestamp: deliver from the earliest
            # version committed AT OR AFTER the timestamp (inclusive)
            _, _, man = _driver_manifest(table_dir)
            eligible = [
                int(v)
                for v, e in man.get("snapshots", {}).items()
                if e.get("committed_at_ms") is not None
                and int(e["committed_at_ms"]) >= st_ts
            ]
            if not eligible:
                raise ValueError(
                    "bamboo_published: no commit at or after "
                    "startingTimestamp=%d (latest commit is older)"
                    % st_ts
                )
            self._start = min(eligible) - 1
        elif sv == "latest":
            _, _, man = _driver_manifest(table_dir)
            self._start = int(man["version"])
        else:
            self._start = int(sv)

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        _, _, man = _driver_manifest(self._dir)
        return {"version": int(man["version"])}

    def partitions(self, start: dict, end: dict) -> List[InputPartition]:
        from bamboo_spark.operators.publish import (
            _append_delta_files,
            _cdf_delta,
        )

        fs, native, man = _driver_manifest(self._dir)
        parts = tuple(man.get("partition_by") or [])
        if self._cdf:
            plan = _cdf_delta(
                fs, native, man, int(start["version"]),
                int(end["version"]),
            )

            out: List[InputPartition] = []
            for p in plan:
                if p["kind"] == "rewrite":
                    # one task per hive partition of a row-rewriting
                    # commit: executor-side multiset diff of the
                    # dropped vs added files (see _rewrite_batches)
                    out.append(
                        _RewritePartition(
                            old=tuple(
                                (
                                    _join(self._dir, f),
                                    f,
                                    _loc_ref(self._dir, ref),
                                    fields,
                                )
                                for f, ref, fields in p["old"]
                            ),
                            new=tuple(
                                (
                                    _join(self._dir, f),
                                    f,
                                    _loc_ref(self._dir, ref),
                                    fields,
                                )
                                for f, ref, fields in p["new"]
                            ),
                            schema_json=p["schema"],
                            partition_by=parts,
                            commit_version=p["version"],
                        )
                    )
                    continue
                out.append(
                    _FilePartition(
                        loc=_join(self._dir, p["file"]),
                        rel=p["file"],
                        schema_json=_cdf_schema_json(p["schema"]),
                        partition_by=parts,
                        dv_ref=_loc_ref(self._dir, p["mask_ref"]),
                        take_diff=(
                            tuple(
                                _loc_ref(self._dir, r) for r in p["take_ref"]
                            )
                            if p["take_ref"] is not None
                            else None
                        ),
                        change_type=p["kind"],
                        commit_version=p["version"],
                        # schema-evolved tables: the planner resolved
                        # each file's (logical, physical) map from its
                        # OWNING entry — renamed/dropped columns read
                        # correctly
                        fields=p.get("fields"),
                    )
                )
            return out
        files, schema_json, _, evo = _append_delta_files(
            fs,
            native,
            man,
            int(start["version"]),
            int(end["version"]),
            ignore_deletes=self._ignore_deletes,
        )
        # evo resolves each delivered file against the entry that
        # APPENDED it (publish._append_delta_files) — exact even for
        # pre-rename files a later compact dropped from the final entry
        return [
            _FilePartition(
                loc=_join(self._dir, f),
                rel=f,
                schema_json=schema_json,
                partition_by=parts,
                fields=_fields_for(schema_json, evo, f),
            )
            for f in files
        ]

    def read(self, partition):
        if isinstance(partition, _RewritePartition):
            return _rewrite_batches(partition)
        return _arrow_batches(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing table-side

    def stop(self) -> None:
        pass


class PublishedTableDataSource(DataSource):
    """``format("bamboo_published")`` — see module docstring. The
    snapshot is pinned HERE (one manifest read per load), so
    ``schema()`` and every reader action agree on one version."""

    @classmethod
    def name(cls) -> str:
        return "bamboo_published"

    def _table_dir(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "bamboo_published: pass the table dir via .load(path)"
            )
        return path

    def _pin(self) -> dict:
        """Resolve the committed snapshot ONCE per load: file list,
        per-file indexes, delete vectors, schema — plain data, pickled
        with the plan, immune to later commits. (Lazy attribute —
        ``DataSource.__init__`` must not be overridden.)"""
        if getattr(self, "_pinned", None) is None:
            self._pinned: Optional[dict] = None
            from bamboo_spark.operators.publish import (
                _load_dv,
                _resolve_entry,
            )

            from bamboo_spark.operators.publish import (
                _evo_of,
                _select_snapshot,
            )

            # time travel as load options (Delta's versionAsOf /
            # timestampAsOf) — resolved here, once
            version = None
            as_of = None
            for k, v in (self.options or {}).items():
                lk = str(k).lower()
                if lk == "versionasof":
                    version = int(v)
                elif lk == "timestampasof":
                    as_of = int(v)
                elif lk == "ref":
                    raise ValueError(
                        "bamboo_published: the ref option is not "
                        "supported (tags and branches were removed); "
                        "use versionAsOf or timestampAsOf"
                    )
            table_dir = self._table_dir()
            fs, native, man = _driver_manifest(table_dir)
            ver, entry = _select_snapshot(man, version, as_of)
            res = _resolve_entry(fs, native, entry)
            self._pinned = {
                "version": int(ver),
                "schema": entry["schema"],
                "partition_by": list(entry.get("partition_by") or []),
                "partition_spec": entry.get("partition_spec"),
                "files": res["files"],
                "stats": res["file_stats"],
                "blooms": res["file_blooms"],
                "dv": _load_dv(fs, native, entry),
                "evo": _evo_of(entry, res),
            }
        return self._pinned

    def schema(self) -> StructType:
        schema_json = self._pin()["schema"]
        if str(self.options.get("readchangefeed", "")).lower() == "true":
            schema_json = _cdf_schema_json(schema_json)
        return StructType.fromJson(json.loads(schema_json))

    def reader(self, schema: StructType) -> DataSourceReader:
        skip = _parse_json_option(self.options, "skip")
        skip_eq = _parse_json_option(self.options, "skip_eq")
        cls = (
            _PublishedPushdownReader
            if str(self.options.get("pushdown", "")).lower() == "true"
            else _PublishedBatchReader
        )
        return cls(
            self._table_dir(), self._pin(), skip=skip, skip_eq=skip_eq
        )

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _PublishedStreamReader(self._table_dir(), dict(self.options))


def register(spark) -> None:
    """Register the ``bamboo_published`` format on this session (and
    enable Python-source filter pushdown, which the OPT-IN pushdown
    reader needs — a runtime-settable SQL conf)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PublishedTableDataSource)
