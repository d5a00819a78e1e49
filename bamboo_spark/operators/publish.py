"""Atomic table publishing: the snapshot-commit core of a table format.

Plain `df.write.parquet(dir)` has no commit point — a reader listing
the directory mid-write sees partial files, and a failed job leaves a
corrupt mix. Table formats (Iceberg/Delta) fix this with ONE idea:
readers never list directories; they read a MANIFEST, and a commit is
one atomic swap of that manifest. This module is that idea reduced to
its core:

* ``atomic_publish(df, table_dir)`` writes data files into a
  version-private directory (``_v<N>/``), then commits by atomically
  replacing ``manifest.json``. Readers observe the old snapshot or the
  new one, never a mix; a crashed write leaves an orphan ``_v<N>``
  directory and an untouched manifest (still-consistent table).
* ``read_published(spark, table_dir)`` loads exactly the committed
  snapshot's files.
* ``vacuum(table_dir, keep)`` removes uncommitted/superseded version
  directories — safe because the manifest is the only source of truth.

Filesystem backends: a PLAIN path uses POSIX ``os.replace`` (atomic
within a filesystem); a URI path (``file:``, ``hdfs:``, ``s3a:`` …)
routes every metadata operation through Hadoop's ``FileSystem`` /
``FileContext`` JVM API — the same protocol, committed by
``FileContext.rename(OVERWRITE)`` (atomic on HDFS and local). On
object stores whose rename is copy+delete the manifest file is small
and the manifest POINTER remains the single commit point: a reader
sees the complete old manifest or the complete new one, because the
copy happens under a temporary name and the final PUT is
last-writer-wins on the whole object.

Scale notes: the data write is an ordinary distributed parquet job;
only the manifest swap is driver-side, and the manifest holds file
PATHS (metadata-sized). The row count is captured with
``DataFrame.observe`` DURING the snapshot write — one pass, no
re-scan. The manifest also records row count and schema, giving
readers a free contract check.
"""

from __future__ import annotations

import json
import os

from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

from bamboo_spark._localdf import local_df as _local_df

_MANIFEST = "manifest.json"


class _PosixFS:
    """Local-path backend: stdlib calls, ``os.replace`` commit."""

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def mkdirs(self, d: str) -> None:
        os.makedirs(d, exist_ok=True)

    def listdir(self, d: str) -> List[str]:
        return os.listdir(d)

    def read_text(self, p: str) -> str:
        with open(p) as fh:
            return fh.read()

    def replace_with(self, content: str, dst: str, tmp_suffix: str) -> None:
        tmp = dst + tmp_suffix
        with open(tmp, "w") as fh:
            fh.write(content)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, dst)  # THE commit point

    def rmtree(self, d: str) -> None:
        import shutil

        shutil.rmtree(d)

    def walk_files(self, d: str) -> List[str]:
        """All file paths under ``d``, relative to it (posix slashes)."""
        out = []
        for root, _dirs, files in os.walk(d):
            rel = os.path.relpath(root, d)
            for f in files:
                out.append(f if rel == "." else "%s/%s" % (rel.replace(os.sep, "/"), f))
        return out

    def file_size(self, p: str) -> int:
        return os.path.getsize(p)

    def file_rows(self, p: str) -> int:
        """Parquet row count from the FOOTER — metadata, not a scan."""
        import pyarrow.parquet as pq

        return int(pq.ParquetFile(p).metadata.num_rows)

    def create_exclusive(self, p: str, content: str) -> bool:
        """Create ``p`` iff it doesn't exist (O_EXCL). True on success."""
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as fh:
            fh.write(content)
            fh.flush()
            os.fsync(fh.fileno())
        return True

    def mtime_ms(self, p: str) -> int:
        return int(os.path.getmtime(p) * 1000)

    def touch(self, p: str) -> None:
        os.utime(p, None)

    def delete_file(self, p: str) -> None:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass


class _HadoopFS:
    """URI backend: Hadoop ``FileSystem`` for IO + listing,
    ``FileContext.rename(OVERWRITE)`` for the atomic manifest swap."""

    def __init__(self, uri: str, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._juri = self._jvm.java.net.URI.create(uri)
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(
            self._juri, self._conf
        )
        self._gw = spark.sparkContext._gateway

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def join(self, *parts: str) -> str:
        return "/".join(x.rstrip("/") for x in parts[:-1]) + "/" + parts[-1]

    def mkdirs(self, d: str) -> None:
        self._fs.mkdirs(self._path(d))

    def listdir(self, d: str) -> List[str]:
        return [
            s.getPath().getName()
            for s in self._fs.listStatus(self._path(d))
        ]

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._path(p))
        baos = self._jvm.java.io.ByteArrayOutputStream()
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, baos, self._conf, True
        )
        return baos.toString("UTF-8")

    def replace_with(self, content: str, dst: str, tmp_suffix: str) -> None:
        tmp = dst + tmp_suffix
        out = self._fs.create(self._path(tmp), True)
        out.write(bytearray(content.encode("utf-8")))
        out.hsync()
        out.close()
        fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self._juri, self._conf
        )
        rename_cls = getattr(
            self._jvm.org.apache.hadoop.fs, "Options$Rename"
        )
        opts = self._gw.new_array(rename_cls, 1)
        opts[0] = rename_cls.OVERWRITE
        fc.rename(self._path(tmp), self._path(dst), opts)  # THE commit

    def rmtree(self, d: str) -> None:
        self._fs.delete(self._path(d), True)

    def walk_files(self, d: str) -> List[str]:
        base = self._fs.getFileStatus(self._path(d)).getPath().toString()
        it = self._fs.listFiles(self._path(d), True)
        out = []
        while it.hasNext():
            p = it.next().getPath().toString()
            out.append(p[len(base) + 1:])
        return out

    def file_size(self, p: str) -> int:
        return int(self._fs.getFileStatus(self._path(p)).getLen())

    def file_rows(self, p: str) -> int:
        """Parquet row count from the footer via the JVM parquet
        reader (driver-side metadata read, no Spark job)."""
        inf = self._jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            self._path(p), self._conf
        )
        rd = self._jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
        try:
            return int(rd.getRecordCount())
        finally:
            rd.close()

    def create_exclusive(self, p: str, content: str) -> bool:
        """Hadoop ``create(overwrite=false)`` — atomic on HDFS (and the
        local FS); the create-exclusive primitive object stores expose
        as a conditional PUT."""
        try:
            out = self._fs.create(self._path(p), False)
        except Exception:
            return False
        out.write(bytearray(content.encode("utf-8")))
        out.hsync()
        out.close()
        return True

    def mtime_ms(self, p: str) -> int:
        return int(self._fs.getFileStatus(self._path(p)).getModificationTime())

    def touch(self, p: str) -> None:
        now = _now_ms()
        self._fs.setTimes(self._path(p), now, now)

    def delete_file(self, p: str) -> None:
        self._fs.delete(self._path(p), False)


def _is_uri(p: str) -> bool:
    head = p.split("://", 1)[0] if "://" in p else ""
    return bool(head) and head.isalnum() or p.startswith("file:")


def _fs_for(table_dir: str, spark: Optional[SparkSession] = None):
    if not _is_uri(table_dir):
        return _PosixFS()
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "publish: a URI table_dir needs an active SparkSession "
            "(the Hadoop FileSystem API lives in the JVM)"
        )
    return _HadoopFS(table_dir, spark)


def _manifest_path(table_dir: str, fs) -> str:
    return fs.join(table_dir, _MANIFEST)


_LOCK = "_commit.lock"

# how long an optimistic writer's COMMIT section polls a held lease
# before giving up: commit sections are sub-second alone, but a queue
# of concurrent committers on a loaded box serializes — the last in
# line waits for everyone ahead, so the window must cover a pile-up,
# not one swap (tests shrink it to fail fast)
_COMMIT_WAIT_MS = 30_000

# merge_into's candidate key-prune probe (source key collect + bloom/
# stats test per file) only pays for itself when the candidate set is
# big enough that pruning skips real I/O: below BOTH thresholds the
# probe's 2 jobs + source key scan exceed the cost of just opening the
# few small files it could prune. File count and bytes are checked
# independently so a table of few-but-huge files still probes.
_KEY_PRUNE_MIN_FILES = 16
_KEY_PRUNE_MIN_BYTES = 256 * 1024 * 1024


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the table's commit lease."""


class _Lease:
    """Create-exclusive commit lease with TTL-based crash recovery.

    Commits to one ``table_dir`` are serialized by a lock FILE created
    with the filesystem's exclusive-create primitive (POSIX ``O_EXCL``,
    Hadoop ``create(overwrite=false)``) — the one operation that is
    atomic everywhere a manifest swap is. A writer that can't get the
    lease raises :class:`ConcurrentWriteError` instead of silently
    losing its snapshot to a last-manifest-wins race. A writer that
    DIES holding the lease doesn't wedge the table: a lock older than
    ``ttl_ms`` is presumed dead and broken — and the break re-reads the
    lock CONTENT immediately before deleting, so it only removes the
    exact lock it observed as stale (an ABA guard: if the stale holder
    released and a fresh writer acquired in between, the token differs
    and the breaker backs off). The unavoidable residual window between
    re-read and delete is closed by the commit-time CAS in
    :func:`_commit` — an evicted writer's swap RAISES instead of
    clobbering the breaker's committed snapshot."""

    def __init__(
        self,
        fs,
        table_dir: str,
        ttl_ms: int = 300_000,
        heartbeat: bool = False,
    ):
        self._fs = fs
        self._path = fs.join(table_dir, _LOCK)
        self._ttl_ms = ttl_ms
        self._held = False
        self._token: Optional[str] = None
        self._heartbeat = heartbeat
        self._hb_stop = None
        self._hb_thread = None

    def acquire(self) -> "_Lease":
        import uuid

        token = uuid.uuid4().hex
        for attempt in (0, 1):
            if self._fs.create_exclusive(self._path, token):
                self._held = True
                self._token = token
                if self._heartbeat:
                    self._start_heartbeat()
                return self
            # lock exists: fresh → contend; stale → break it and retry
            try:
                stale_tok = self._fs.read_text(self._path)
                age = _now_ms() - self._fs.mtime_ms(self._path)
            except Exception:
                continue  # vanished between create and stat — retry
            if age <= self._ttl_ms:
                raise ConcurrentWriteError(
                    "another writer holds the commit lease on this table "
                    "(lock age %d ms <= ttl %d ms)" % (age, self._ttl_ms)
                )
            # ABA guard: break only the lock observed as stale
            try:
                if self._fs.read_text(self._path) != stale_tok:
                    raise ConcurrentWriteError(
                        "commit lease changed hands while breaking a "
                        "stale lock (another writer acquired it)"
                    )
            except ConcurrentWriteError:
                raise
            except Exception:
                continue  # vanished: holder released — retry create
            self._fs.delete_file(self._path)
        raise ConcurrentWriteError(
            "could not acquire the commit lease (lost the break-retry race)"
        )

    def acquire_wait(
        self, wait_ms: int = 30_000, poll_ms: int = 100
    ) -> "_Lease":
        """Acquire, WAITING out fresh contention up to ``wait_ms``.

        Used for the short COMMIT critical section of optimistic
        writers: the lease there is held only for a manifest
        read-validate-swap (sub-second), so a writer that finds it held
        should poll briefly rather than abort a finished data write.
        TTL breaking and the final timeout still raise — the timeout
        error carries the waited time and the holder's token/age so a
        pile-up (benign, retryable) is distinguishable from a real
        write conflict in logs."""
        import time

        start = _now_ms()
        deadline = start + wait_ms
        while True:
            try:
                return self.acquire()
            except ConcurrentWriteError as e:
                if _now_ms() >= deadline:
                    try:
                        tok = self._fs.read_text(self._path)
                        age = _now_ms() - self._fs.mtime_ms(self._path)
                        holder = "held by token %s… for %d ms" % (
                            tok[:8], age,
                        )
                    except Exception:
                        holder = "holder unknown (lock vanished mid-check)"
                    raise ConcurrentWriteError(
                        "commit-lease wait exhausted after %d ms (%s). "
                        "This is commit-section CONTENTION (a pile-up "
                        "of committers on a loaded box), not a data "
                        "conflict — nothing was committed; retrying "
                        "the commit is safe."
                        % (_now_ms() - start, holder)
                    ) from e
                time.sleep(poll_ms / 1000.0)

    def _start_heartbeat(self) -> None:
        """Keep a LIVE long-running holder's lock fresh: a daemon
        thread touches the lock's mtime every ttl/4, so the TTL break
        only ever evicts writers that actually DIED — a multi-hour
        compact() can no longer be evicted mid-write by the 300 s
        default. (The commit-time CAS still backstops the unavoidable
        races; the heartbeat just stops them from being routine.)"""
        import threading

        self._hb_stop = threading.Event()

        def beat(stop, fs, path, token, interval_s):
            while not stop.wait(interval_s):
                try:
                    if fs.read_text(path) == token:
                        fs.touch(path)
                    else:
                        return  # broken/handed over: stop quietly
                except Exception:
                    return

        self._hb_thread = threading.Thread(
            target=beat,
            args=(
                self._hb_stop,
                self._fs,
                self._path,
                self._token,
                max(self._ttl_ms / 4000.0, 0.25),
            ),
            daemon=True,
        )
        self._hb_thread.start()

    def still_mine(self) -> bool:
        """True iff the lock file still holds OUR token — false once a
        TTL break evicted us (the breaker's lock carries its token)."""
        if not self._held or self._token is None:
            return False
        try:
            return self._fs.read_text(self._path) == self._token
        except Exception:
            return False

    def release(self) -> None:
        if self._held:
            if self._hb_stop is not None:
                self._hb_stop.set()
            # delete only our own lock: after a TTL break the file is
            # the breaker's lease, not ours
            if self.still_mine():
                self._fs.delete_file(self._path)
            self._held = False

    def __enter__(self) -> "_Lease":
        # idempotent: entering an already-acquired lease (acquire_wait)
        # must not contend with itself
        return self if self._held else self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()


def _now_ms() -> int:
    import time

    return int(time.time() * 1000)


def current_version(
    table_dir: str, spark: Optional[SparkSession] = None
) -> int:
    """Committed snapshot version, 0 if the table doesn't exist yet."""
    fs = _fs_for(table_dir, spark)
    try:
        return int(json.loads(fs.read_text(_manifest_path(table_dir, fs)))["version"])
    except Exception:
        return 0


_FORMAT_VERSION = 1  # manifest protocol this reader/writer speaks
# format-1 keys of removed features: a table that still uses one is
# refused rather than read without them
_REMOVED_KEYS = ("tags", "branches", "constraints", "retention")


class UnsupportedFormatError(RuntimeError):
    """The table is in a shape this reader does not serve — refusing
    beats silently misreading. Two directions: a NEWER protocol (a
    higher ``format_version`` may rely on features, e.g. a new delete
    encoding, whose absence from this reader's resolution would return
    WRONG rows), and an OLDER shape no writer produces any more: keys
    of removed features (tags, branches, CHECK constraints, a stored
    retention policy), pre-history or inline-file manifests, entries
    without field ids or file/byte counters, unstamped segments,
    position-list or row-per-position delete vectors. The table has
    ONE on-disk format:
    segmented snapshot entries carrying ``field_ids``, segments stamped
    with their field names, and bitmap delete-vector sidecars."""


def _refuse(table_dir: str, what: str) -> UnsupportedFormatError:
    return UnsupportedFormatError(
        "table at %s %s — a shape this library no longer reads or "
        "writes; rewrite the table with a release that still reads it"
        % (table_dir, what)
    )


def _read_manifest(table_dir: str, fs) -> Optional[dict]:
    try:
        man = json.loads(fs.read_text(_manifest_path(table_dir, fs)))
    except Exception:
        return None
    fv = int(man.get("format_version") or 1)
    if fv > _FORMAT_VERSION:
        raise UnsupportedFormatError(
            "table at %s uses manifest format_version=%d; this reader "
            "speaks <=%d — upgrade the library to read it"
            % (table_dir, fv, _FORMAT_VERSION)
        )
    for key in _REMOVED_KEYS:
        if man.get(key):
            raise UnsupportedFormatError(
                "table at %s carries manifest key %r (tags, branches, "
                "CHECK constraints and stored retention policies are no "
                "longer supported); reading it would skip its "
                "constraints, let vacuum delete the files its refs pin "
                "or let a bare vacuum ignore its retention policy"
                % (table_dir, key)
            )
    if not man.get("snapshots"):
        raise _refuse(table_dir, "has a pre-history manifest (no "
                      "'snapshots')")
    for v, e in [(man.get("version"), man), *man["snapshots"].items()]:
        if e.get("files") is not None:
            raise _refuse(table_dir, "has an inline 'files' list in "
                          "snapshot %s (pre-segmentation)" % v)
        if not e.get("field_ids"):
            raise _refuse(table_dir, "has no 'field_ids' in snapshot %s "
                          "(pre-field-id)" % v)
        if e.get("n_files") is None or e.get("size_bytes") is None:
            raise _refuse(table_dir, "has no 'n_files'/'size_bytes' in "
                          "snapshot %s (pre-size)" % v)
    return man


_SEG = "_seg.json"


def _seg_path(fs, table_dir: str, seg: str) -> str:
    return fs.join(table_dir, seg, _SEG)


_SEG_CACHE: dict = {}  # abs sidecar path -> (mtime_ms, parsed dict)
_SEG_CACHE_MAX = 4096


def _load_seg(fs, table_dir: str, seg: str) -> dict:
    """Segment sidecar, memoized on (path, mtime): one replace commit
    resolves/segments/prunes the same sidecars several times, and on an
    object store every raw read is a GET. mtime-validated: a sidecar
    is written once, by the commit that creates its segment, so a hit
    is the sidecar as committed. Every listed file must carry its
    field map (the segment's ``field_names`` stamp, or a clone's
    per-file ``file_fields``): an unstamped segment is refused."""
    path = _seg_path(fs, table_dir, seg)
    mt = fs.mtime_ms(path)
    hit = _SEG_CACHE.get(path)
    if hit is not None and hit[0] == mt:
        return hit[1]
    data = json.loads(fs.read_text(path))
    per_file = data.get("file_fields") or {}
    if not data.get("field_names") and any(
        f not in per_file for f in data.get("files", [])
    ):
        raise _refuse(table_dir, "has an unstamped segment %s (files "
                      "without a 'field_names' map)" % seg)
    if len(_SEG_CACHE) >= _SEG_CACHE_MAX:
        _SEG_CACHE.pop(next(iter(_SEG_CACHE)))
    _SEG_CACHE[path] = (mt, data)
    return data


def _write_seg(fs, table_dir: str, seg: str, data: dict) -> None:
    fs.mkdirs(fs.join(table_dir, seg))
    path = _seg_path(fs, table_dir, seg)
    fs.replace_with(json.dumps(data), path, ".tmp")
    _SEG_CACHE[path] = (fs.mtime_ms(path), data)


_DV = "_dv.json"
_DVP = "dvp"  # per-commit parquet sidecar dataset ``<seg>/_dvp/dvp``
_DV_CACHE: dict = {}  # abs path -> parsed dict (dv files are immutable)
_DV_CACHE_MAX = 1024


def _load_dv(fs, table_dir: str, entry: dict) -> dict:
    """The snapshot's DELETE-VECTOR MANIFEST: ``{rel_file: {"ds", "n",
    "fmt": "bm", "key"?}}`` of rows erased without rewriting their file
    (merge-on-read, the Iceberg v2 / Delta deletion-vector design).
    ``{}`` when the snapshot has none. ``ds`` is a BITMAP parquet
    sidecar dataset written by executors at commit time (one row per
    1024-position chunk, see :func:`_dv_pack`); the manifest holds only
    the file-level ref + count, so the driver never materializes row
    addresses. ``key`` (set by shallow clones) is the ``_dv_file``
    value the sidecar rows carry when it differs from this manifest's
    file ref. Position lists, row-per-position sidecars and sidecars
    rooted at the hidden ``_dvp`` dir itself are refused.

    The manifest is written ONCE per dv commit (immutable file, plain
    cache) and always maps the FULL state as of that snapshot; a commit
    rewrites sidecar data only for the files it TOUCHED — untouched
    files keep their older refs (O(delta) commit IO)."""
    rel = entry.get("dv")
    if not rel:
        return {}
    path = fs.join(table_dir, rel)
    hit = _DV_CACHE.get(path)
    if hit is not None:
        return hit
    data = json.loads(fs.read_text(path))
    for f, v in data.items():
        if not isinstance(v, dict):
            what = "a position-list delete vector"
        elif v.get("fmt") != "bm":
            what = "a row-per-position delete-vector sidecar"
        elif v["ds"].rstrip("/").rsplit("/", 1)[-1] == "_dvp":
            what = "a delete-vector sidecar rooted at the hidden '_dvp' dir"
        else:
            continue
        raise _refuse(table_dir, "has %s for %s in %s" % (what, f, rel))
    if len(_DV_CACHE) >= _DV_CACHE_MAX:
        _DV_CACHE.pop(next(iter(_DV_CACHE)))
    _DV_CACHE[path] = data
    return data


def _write_dv(fs, table_dir: str, seg: str, dvmap: dict) -> str:
    """Write a snapshot's merged delete-vector MANIFEST (file-level
    refs/counts only — see :func:`_load_dv`) into its version dir;
    returns the manifest-relative path for the entry's ``dv``."""
    fs.mkdirs(fs.join(table_dir, seg))
    rel = "%s/%s" % (seg, _DV)
    fs.replace_with(json.dumps(dvmap), fs.join(table_dir, rel), ".tmp")
    _DV_CACHE[fs.join(table_dir, rel)] = dvmap
    return rel


def _carry_dv(fs, table_dir: str, prev: dict, seg: str, live_files) -> dict:
    """Entry fields carrying ``prev``'s delete vectors forward through
    a commit that keeps (some of) its files: vectors for files no
    longer live are dropped (their rewrite already materialized the
    deletion), the rest are re-published as this version's dv manifest
    — a METADATA-ONLY filter (sidecar data is never rewritten).
    Returns ``{}`` or ``{'dv': relpath, 'dv_rows': n}``."""
    prev_dv = _load_dv(fs, table_dir, prev)
    if not prev_dv:
        return {}
    live = set(live_files)
    kept = {
        f: v for f, v in prev_dv.items() if f in live and _dv_val_n(v)
    }
    if not kept:
        return {}
    return {
        "dv": _write_dv(fs, table_dir, seg, kept),
        "dv_rows": _dv_nrows(kept),
    }


def _dv_val_n(v) -> int:
    """Deleted-row count of one file's dv value (0 when it has none)."""
    return int(v.get("n") or 0) if v else 0


def _dv_nrows(dvmap: Optional[dict]) -> int:
    """Total deleted rows across a dv manifest (``dv_rows``)."""
    return sum(_dv_val_n(v) for v in (dvmap or {}).values())


def _dv_ref_of(v, rel: str):
    """A PICKLABLE positions ref for one file's dv value — what a
    driver-side plan ships to executors instead of raw positions:
    ``(dataset_rel, key)`` of its bitmap sidecar (the executor reads
    the sidecar itself), None when the file has no vector."""
    return (v["ds"], v.get("key", rel)) if v else None


_DV_POS_SCHEMA = (
    "_dv_file string, _dv_base string, _dv_sfx string, _dv_pos long"
)

# bitmap sidecar geometry: one sidecar row covers a CHUNK of 1024
# consecutive row positions as 16 little-endian 64-bit words — ~136 B
# per chunk row vs ~50 B per position row, so any delete density above
# ~0.3% compresses (a 50%-deleted file ≈ 190x smaller); parquet RLE
# squeezes the all-zero words of sparse chunks further
_DV_CHUNK = 1024
_DV_WORDS = _DV_CHUNK // 64


def _dv_pack(pos_df, n_parts: int):
    """Pack a positions frame (``_DV_POS_SCHEMA``) into the BITMAP
    sidecar shape ``(_dv_file, _dv_base, _dv_sfx, _dv_chunk,
    _dv_bits array<long>[16])`` — Delta's deletion-vector bitmap idea
    as plain Spark aggregates, wholly JVM-side, in ONE exchange: the
    explicit repartition on ``_dv_file`` both clusters the output for
    the executors' per-file predicate pushdown AND satisfies the
    group-by's distribution (hashpartitioning(_dv_file) ⊆ the
    clustering keys), so the 16 per-word ``bit_or`` aggregates run
    exchange-free on top of it. ``bit_or`` is idempotent to duplicate
    positions, so callers need no dropDuplicates pass either."""
    from pyspark.sql import functions as F

    word_aggs = [
        F.expr(
            "bit_or(IF(cast((_dv_pos % {c}) div 64 as int) = {w}, "
            "shiftleft(1L, cast(_dv_pos % 64 as int)), 0L))".format(
                c=_DV_CHUNK, w=w
            )
        ).alias("_w%d" % w)
        for w in range(_DV_WORDS)
    ]
    return (
        pos_df.repartition(n_parts, "_dv_file")
        .groupBy(
            "_dv_file", "_dv_base", "_dv_sfx",
            F.expr("_dv_pos div %d" % _DV_CHUNK).alias("_dv_chunk"),
        )
        .agg(*word_aggs)
        .select(
            "_dv_file", "_dv_base", "_dv_sfx", "_dv_chunk",
            F.array(
                *[F.col("_w%d" % w) for w in range(_DV_WORDS)]
            ).alias("_dv_bits"),
        )
        .sortWithinPartitions("_dv_file", "_dv_chunk")
    )


def _dv_merge_chunks(chunks_df):
    """OR together bitmap chunk rows sharing (file, chunk) — the
    chunk-domain union behind dv-commit merges and sidecar compaction
    (duplicate-idempotent, like everything bitwise here). Groups on
    (file, chunk) ONLY: rows for the same manifest ref may carry
    DIFFERENT suffix-guard spellings (a clone's externalized old rows
    vs its own new rows — both valid suffixes of the same physical
    path), and they must collapse to ONE row or the left-join mask
    would double-match; max() picks one deterministic spelling."""
    from pyspark.sql import functions as F

    word_aggs = [
        F.expr("bit_or(element_at(_dv_bits, %d))" % (w + 1)).alias(
            "_w%d" % w
        )
        for w in range(_DV_WORDS)
    ]
    return (
        chunks_df.groupBy("_dv_file", "_dv_chunk")
        .agg(
            F.max("_dv_base").alias("_dv_base"),
            F.max("_dv_sfx").alias("_dv_sfx"),
            *word_aggs,
        )
        .select(
            "_dv_file", "_dv_base", "_dv_sfx", "_dv_chunk",
            F.array(
                *[F.col("_w%d" % w) for w in range(_DV_WORDS)]
            ).alias("_dv_bits"),
        )
    )


def _dv_chunks_df(spark: SparkSession, fs, table_dir: str, dvmap: dict):
    """A dv (sub)manifest as BITMAP CHUNK rows ``(_dv_file, _dv_base,
    _dv_sfx, _dv_chunk, _dv_bits)`` — the join side of the chunk-native
    mask (:func:`_dv_mask`), read AS STORED from the sidecars (no
    unpack, ~1/100th the rows/bytes of the position form). Sidecar
    rows written for OTHER files in a shared dataset are filtered out;
    a clone's rekeyed entries (``key`` differs from the manifest ref)
    are re-labeled to the manifest ref so downstream grouping keys stay
    consistent — their ``_dv_sfx``/``_dv_base`` remain valid (both
    name suffixes of the same physical file). None when empty."""
    from pyspark.sql import functions as F

    ds_groups: dict = {}
    for rel, v in (dvmap or {}).items():
        if v:
            ds = _ref_path(fs, table_dir, v["ds"])
            ds_groups.setdefault(ds, []).append((v.get("key", rel), rel))
    pieces = []
    for ds in sorted(ds_groups):
        pairs = ds_groups[ds]
        keys = sorted({k for k, _ in pairs})
        sub = spark.read.parquet(ds).where(F.col("_dv_file").isin(keys))
        if any(k != r for k, r in pairs):
            kmap = _local_df(
                spark, pairs, "_dv_key string, _dv_rel string"
            )
            sub = (
                sub.withColumnRenamed("_dv_file", "_dv_key")
                .join(F.broadcast(kmap), "_dv_key")
                .select(
                    F.col("_dv_rel").alias("_dv_file"),
                    "_dv_base", "_dv_sfx", "_dv_chunk", "_dv_bits",
                )
            )
        pieces.append(sub)
    if not pieces:
        return None
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _dv_mask(df, fp_col: str, ri_col: str, chunks_df):
    """CHUNK-NATIVE merge-on-read mask: left-join rows to their file's
    bitmap chunk on (basename, position div 1024) and keep rows whose
    bit is unset — positions NEVER materialize (the join side is
    chunks, ~1000x smaller than the position form a billion-row dv
    would explode to; AQE broadcasts it in the common case). The
    suffix guard keeps basename collisions exact, same as the
    positional join it replaces. (file, chunk) is unique per manifest
    — each file's ref names one dataset — so the left join preserves
    row multiplicity."""
    from pyspark.sql import functions as F

    joined = df.withColumn(
        "_dv_b", F.element_at(F.split(F.col(fp_col), "/"), -1)
    ).join(
        chunks_df,
        (F.col("_dv_b") == F.col("_dv_base"))
        & (F.expr("%s div %d" % (ri_col, _DV_CHUNK)) == F.col("_dv_chunk"))
        & F.col(fp_col).endswith(F.col("_dv_sfx")),
        "left",
    )
    return joined.where(
        F.expr(
            "coalesce(shiftrightunsigned(element_at(_dv_bits, "
            "cast(({ri} % {c}) div 64 as int) + 1), "
            "cast({ri} % 64 as int)) & 1, 0L) = 0".format(
                ri=ri_col, c=_DV_CHUNK
            )
        )
    ).drop(
        "_dv_b", "_dv_file", "_dv_base", "_dv_sfx", "_dv_chunk",
        "_dv_bits",
    )


def _dv_unpack(bm_df):
    """Unpack a bitmap sidecar frame back to ``_DV_POS_SCHEMA`` — a
    codegen'd transform+filter+explode, no Python in the path. Only
    the mask JOIN side materializes positions; the stored/shipped
    bytes stay packed."""
    from pyspark.sql import functions as F

    return bm_df.select(
        "_dv_file", "_dv_base", "_dv_sfx",
        F.explode(
            F.expr(
                "filter(transform(sequence(0, %d), i -> "
                "IF((shiftrightunsigned(element_at(_dv_bits, "
                "int(i div 64) + 1), int(i %% 64)) & 1) = 1, "
                "_dv_chunk * %d + cast(i as long), -1L)), "
                "x -> x >= 0)" % (_DV_CHUNK - 1, _DV_CHUNK)
            )
        ).alias("_dv_pos"),
    )


def _dv_ds_counts(spark, dsdir: str) -> dict:
    """Per-file deleted-row counts of a written BITMAP sidecar dataset
    — one aggregate over bit_count, never positions on the driver. The
    sidecar schema is fixed by ``_dv_pack``, so it is passed explicitly:
    no schema-inference job on the read-back (one fewer job per dv
    commit)."""
    from pyspark.sql import functions as F

    return {
        r[0]: int(r[1])
        for r in spark.read.schema(
            "_dv_file string, _dv_base string, _dv_sfx string, "
            "_dv_chunk bigint, _dv_bits array<bigint>"
        )
        .parquet(dsdir)
        .groupBy("_dv_file")
        .agg(
            F.expr(
                "sum(aggregate(_dv_bits, 0L, (a, b) -> a + bit_count(b)))"
            ).alias("_n")
        )
        .collect()  # O(touched files)
    }


def _dv_build(
    spark: SparkSession,
    fs,
    table_dir: str,
    dsrel: str,
    addr_df,
    cand_files,
    dv0: dict,
):
    """Build a commit's delete-vector refs DISTRIBUTIVELY — the
    write path shared by ``_dv_delete``, ``merge_into`` and
    ``merge_publish_incremental``. ``addr_df`` is the matched rows'
    ``(_fp, _ri)`` addresses (any multiplicity); ``cand_files`` the
    manifest refs the address scan covered (file-level, broadcastable
    by construction).

    Row positions NEVER pass through the driver: addresses are mapped
    back to manifest refs with a broadcast file-level frame, unioned
    with the touched files' EXISTING vectors (sidecar reads),
    deduplicated, and written as ONE parquet dataset (the commit's
    sidecar at ``dsrel``) by executors — the driver sees only per-file
    COUNTS. Returns ``(new_refs {rel: {"ds","n","fmt"}}, n_fresh)`` where
    ``new_refs`` covers exactly the files whose vector GREW (a file
    whose every address was already deleted keeps its old ref, so
    value-equality still means "dv unchanged" for delta readers) and
    ``n_fresh`` is the number of newly deleted rows."""
    from pyspark.sql import Observation, functions as F

    cand_rows = [
        (f, f.rsplit("/", 1)[-1], _ref_suffix(f)) for f in cand_files
    ]
    cdf = _local_df(
        spark, cand_rows, "_dv_file string, _dv_base string, _dv_sfx string"
    )
    addr = (
        addr_df.withColumn(
            "_b", F.element_at(F.split(F.col("_fp"), "/"), -1)
        )
        .join(
            F.broadcast(cdf),
            (F.col("_b") == F.col("_dv_base"))
            & F.col("_fp").endswith(F.col("_dv_sfx")),
            "inner",
        )
        .select(
            "_dv_file", "_dv_base", "_dv_sfx",
            F.col("_ri").cast("long").alias("_dv_pos"),
        )
    )
    # ONE candidate scan: materialize the addresses, then the sidecar
    # write and count jobs all read the checkpoint (address-sized,
    # spillable) instead of re-scanning the table. The touched-file
    # probe rides the checkpoint's OWN materialization as an observed
    # collect_set — file-level (bounded by cand_files), and one job
    # instead of two (checkpoint + a separate distinct().collect()).
    obs = Observation()
    addr = addr.observe(
        obs, F.collect_set("_dv_file").alias("_touched")
    ).localCheckpoint(eager=True)
    touched = sorted(obs.get["_touched"])
    if not touched:
        return {}, 0
    old_sub = {f: dv0[f] for f in touched if dv0.get(f)}
    n_parts = max(1, min(len(touched), 64))
    dsdir = _ref_path(fs, table_dir, dsrel)
    # positions pack into BITMAP chunk rows before hitting disk (see
    # _dv_pack): sidecar bytes scale with chunks, not deletions.
    # No dropDuplicates pass: the pack's bit_or dedups by construction.
    # Touched files' EXISTING vectors merge in the CHUNK domain (read
    # as stored; OR per word) — old positions never re-explode
    merged = _dv_pack(addr, n_parts)
    if old_sub:
        merged = (
            _dv_merge_chunks(
                merged.unionByName(
                    _dv_chunks_df(spark, fs, table_dir, old_sub)
                )
            )
            .repartition(n_parts, "_dv_file")
            .sortWithinPartitions("_dv_file", "_dv_chunk")
        )
    merged.write.parquet(dsdir)
    counts = _dv_ds_counts(spark, dsdir)
    new_refs: dict = {}
    n_fresh = 0
    for f in touched:
        fresh = counts.get(f, 0) - _dv_val_n(dv0.get(f))
        if fresh > 0:
            new_refs[f] = {"ds": dsrel, "n": counts[f], "fmt": "bm"}
            n_fresh += fresh
    return new_refs, n_fresh


def _resolve_entry(
    fs, table_dir: str, entry: dict, rekey_stats: bool = True
) -> dict:
    """``{'files', 'file_sizes', 'file_stats', 'file_blooms',
    'file_fields'}`` for a snapshot entry.

    The manifest is SEGMENTED (the scale shape): the top manifest holds only
    version pointers + per-snapshot counters plus ``segments`` (the
    version dirs whose file lists this snapshot references) and
    ``removed`` (files excluded from those segments); the per-file
    detail lives in one ``_v<K>/_seg.json`` sidecar PER VERSION,
    written once at that version's commit. A snapshot's live file set
    is ``union(segment files) − removed``. This is the Iceberg
    manifest-list shape: commit IO is O(delta files) — an append
    writes ONE new sidecar and never re-serializes the table's file
    list — and the top manifest stays ~constant-size per retained
    version no matter how many files accumulate. Reads load only the
    segments the chosen snapshot references."""
    removed = set(entry.get("removed") or [])
    files: List[str] = []
    sizes: dict = {}
    stats: dict = {}
    blooms: dict = {}
    fields: dict = {}
    for seg in entry.get("segments") or []:
        s = _load_seg(fs, table_dir, seg)
        seg_sizes = s.get("file_sizes") or {}
        seg_stats = s.get("file_stats") or {}
        seg_blooms = s.get("file_blooms") or {}
        seg_fields = s.get("field_names")  # {id: phys name}
        per_file_fields = s.get("file_fields") or {}  # clones: per file
        for f in s.get("files", []):
            if f in removed:
                continue
            files.append(f)
            if seg_sizes.get(f) is not None:
                sizes[f] = seg_sizes[f]
            if seg_stats.get(f):
                stats[f] = seg_stats[f]
            if seg_blooms.get(f):
                blooms[f] = seg_blooms[f]
            fields[f] = per_file_fields.get(f, seg_fields)
    if entry.get("schema_evolved") and rekey_stats:
        # rename/drop happened: sidecar indexes are keyed by the
        # PHYSICAL names each file was written with — rekey them to
        # the entry's LOGICAL names (by field id) so skip=/skip_eq=
        # callers never see a stale name. ``rekey_stats=False``
        # (clone_table) keeps the raw physical keys — the clone copies
        # them verbatim next to the file maps and rekeys at ITS read
        # time.
        ids, _ = _field_ids_of(entry)
        for f in files:
            fm = fields[f]
            for idx in (stats, blooms):
                st = idx.get(f)
                if not st:
                    continue
                idx[f] = {
                    n: st[fm[str(i)]]
                    for n, i in ids.items()
                    if str(i) in fm and fm[str(i)] in st
                }
    return {
        "files": files,
        "file_sizes": sizes,
        "file_stats": stats,
        "file_blooms": blooms,
        "file_fields": fields,
    }


def _entry_files(fs, table_dir: str, entry: dict) -> List[str]:
    """A snapshot entry's live file list (manifest-relative paths)."""
    return _resolve_entry(fs, table_dir, entry)["files"]


def live_files(
    table_dir: str, spark: Optional[SparkSession] = None
) -> List[str]:
    """The committed snapshot's live data-file list (manifest-relative
    paths) — the public inspection hook (tests, audits); readers should
    use :func:`read_published`."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        return []
    return _entry_files(fs, table_dir, manifest)


def _json_stat(v):
    """JSON-safe min/max value (dates/timestamps → ISO strings, which
    compare lexicographically = chronologically; bytes → utf-8)."""
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _field_ids_of(entry: dict):
    """``({name: id}, next_id)`` for a snapshot entry — the Iceberg
    field-ID device behind metadata-only rename/drop: a column's ID is
    assigned once and never reused, so its NAME can change (or go away)
    without touching data files."""
    ids = {k: int(v) for k, v in entry["field_ids"].items()}
    return ids, int(entry.get("next_field_id") or max(ids.values()) + 1)


def _stamp_fields(seg_data: dict, fids: dict) -> None:
    """Record the writing commit's ``{field_id: physical column name}``
    in the segment sidecar — the map readers use to resolve this
    segment's files after a later rename/drop. Written at EVERY segment
    commit (not just evolved tables) so files carry their physical
    names from birth."""
    seg_data["field_names"] = {str(i): n for n, i in fids.items()}


def _is_ext(f: str) -> bool:
    """True for an EXTERNAL (absolute) manifest ref — the shallow-clone
    shape (:func:`clone_table`): a ref resolving outside this table
    dir. Everything else is table-relative (``_v<K>/...``)."""
    return f.startswith("/") or f.startswith("file:") or "://" in f


def _ref_path(fs, table_dir: str, f: str) -> str:
    """A manifest ref's readable path: external refs are already
    absolute; table-relative refs anchor at the table dir."""
    return f if _is_ext(f) else fs.join(table_dir, f)


def _ref_group(fs, table_dir: str, f: str) -> str:
    """The basePath anchor for a ref — its owning version directory
    (hive partition columns parse relative to it). Table-relative refs
    anchor at ``<table>/_v<K>``; external refs at the path up to their
    ``_v<K>`` component (parent dir when none — e.g. a ref into a
    foreign layout)."""
    if not _is_ext(f):
        return fs.join(table_dir, f.split("/", 1)[0])
    parts = f.split("/")
    for i in range(len(parts) - 2, -1, -1):
        if parts[i].startswith("_v") and parts[i][2:].isdigit():
            return "/".join(parts[: i + 1])
    return f.rsplit("/", 1)[0]


def _ref_suffix(f: str) -> str:
    """The path-suffix form of a ref for matching against Spark file
    URIs (``input_file_name()`` / ``_metadata.file_path`` both render
    ``scheme://.../path``): strip the scheme but KEEP the authority
    (bucket/host) — two stores can hold identical paths, and a clone
    whose external refs span buckets must never cross-match them —
    keep one leading slash for absolute paths, prefix relative refs
    with '/'."""
    if "://" in f:
        rest = f.split("://", 1)[1]
        return "/" + rest
    if f.startswith("file:"):
        rest = f[len("file:"):]
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    return f if f.startswith("/") else "/" + f


def _rel_of(abs_uri: str, rel_files) -> Optional[str]:
    """Map an ``input_file_name()`` URI back to its manifest ref
    (suffix match; tolerates URL-encoding in the URI and external
    absolute refs)."""
    from urllib.parse import unquote

    for cand in (abs_uri, unquote(abs_uri)):
        for rel in rel_files:
            if cand.endswith(_ref_suffix(rel)):
                return rel
    return None


_BLOOM_M = 16384  # bits per file per column (2 KB) — plenty for the
_BLOOM_K = 5      # ~128 MB-file distinct-value counts point lookups hit


def _bloom_canon_py(value) -> Optional[str]:
    """CANONICAL string form of a bloom-hashable value — the single
    formatter both hashing sides must agree on. Python ``str()`` and
    Spark ``cast(string)`` disagree on floats ('1e-07' vs '1.0E-7')
    and booleans ('True' vs 'true'); a one-character difference means
    different bit positions and a FALSE NEGATIVE — a file containing
    the value silently skipped, breaking the conservative-skipping
    guarantee. So: supported types get one canonical form (bool →
    'true'/'false', int → decimal digits, date → ISO, str as-is);
    unsupported types (float/decimal/timestamp, whose Spark string
    forms aren't reproducible in Python) return None — bloom BUILDS
    reject them, bloom LOOKUPS fall back to 'might contain'."""
    import datetime

    if isinstance(value, bool):  # before int: bool subclasses int
        return "true" if value else "false"
    if isinstance(value, int) or isinstance(value, str):
        return str(value)
    if isinstance(value, datetime.datetime):
        return None  # fraction-trimming in Spark's cast isn't replicable
    if isinstance(value, datetime.date):
        return value.isoformat()  # = Spark cast(date as string)
    return None


def _bloom_positions_py(value, m_bits: int, k: int) -> Optional[List[int]]:
    """The k bloom bit positions for ``value`` — PURE-PYTHON twin of
    the Spark expression in :func:`_distributed_file_indexes`. Both
    sides hash ``md5(canon(value) + ':' + str(i))`` (one canonical
    formatter, see :func:`_bloom_canon_py`) and take the first 60 bits
    mod m, so a position computed on the driver at planning time
    matches one computed by executors at build time exactly. None for
    values whose canonical form isn't defined."""
    import hashlib

    canon = _bloom_canon_py(value)
    if canon is None:
        return None
    out = []
    for i in range(k):
        h = hashlib.md5(
            ("%s:%d" % (canon, i)).encode("utf-8")
        ).hexdigest()[:15]
        out.append(int(h, 16) % m_bits)
    return out


def _bloom_might_contain(bloom: dict, value) -> bool:
    """Driver-side membership test against a stored per-file bloom.
    CONSERVATIVE: a value with no canonical form (float/timestamp)
    answers True — never skip on a hash that can't be reproduced."""
    import base64

    positions = _bloom_positions_py(value, int(bloom["m"]), int(bloom["k"]))
    if positions is None:
        return True
    bits = base64.b64decode(bloom["b64"])
    for pos in positions:
        if not (bits[pos // 8] >> (pos % 8)) & 1:
            return False
    return True


def _bloom_canon_expr(df: DataFrame, c: str):
    """Spark-side twin of :func:`_bloom_canon_py`: a Column holding
    the CANONICAL string form of ``c``. Raises for column types whose
    canonical form Python can't reproduce (float/double/decimal/
    timestamp) — rejecting at build time beats a silent false-negative
    skip at read time."""
    from pyspark.sql import functions as F, types as T

    dt = {f.name: f.dataType for f in df.schema.fields}[c]
    if isinstance(dt, T.BooleanType):
        # cast(boolean as string) is 'true'/'false' — make it explicit
        return F.when(F.col(c), F.lit("true")).otherwise(F.lit("false"))
    if isinstance(
        dt,
        (T.StringType, T.ByteType, T.ShortType, T.IntegerType,
         T.LongType, T.DateType),
    ):
        return F.col(c).cast("string")
    raise ValueError(
        "bloom_cols: column %r has type %s, whose string form differs "
        "between the Spark build side and the Python lookup side — a "
        "bloom on it could FALSELY skip files containing matches. Use "
        "string/integral/boolean/date columns (or quantize the value "
        "into one)." % (c, dt.simpleString())
    )


def _distributed_file_indexes(
    spark: SparkSession,
    fs,
    table_dir: str,
    rel_files,
    stats_cols,
    bloom_cols,
    schema_json: Optional[str] = None,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
):
    """The ONE per-file index scan, behind write-time indexing
    (:func:`_enrich_seg`):
    one distributed job per version dir scans the files column-pruned
    to the index columns and groups by ``input_file_name()``; the same
    aggregate carries the min/max of ``stats_cols`` and the bloom
    bit-position sets of ``bloom_cols``. Works on every backend (the
    executors read the files wherever they live); under the
    basePath-anchored read hive partition columns are real attributes,
    so they index too (constant per file).

    Returns ``(stats, blooms)``: ``{rel: {col: [min, max]}}`` and
    ``{rel: {col: {m, k, b64}}}`` — each row contributes its k
    md5-derived bit positions (:func:`_bloom_positions_py` is the
    driver-side twin), collected as a per-file distinct set bounded by
    m bits and packed into a bitset on the driver: O(files × m/8)
    bytes, bounded by the files indexed, never by the table."""
    import base64

    from pyspark.sql import functions as F, types as T

    stats_cols = list(stats_cols or [])
    bloom_cols = list(bloom_cols or [])
    if not rel_files or not (stats_cols or bloom_cols):
        return {}, {}
    by_base: dict = {}
    for f in rel_files:
        by_base.setdefault(_ref_group(fs, table_dir, f), []).append(f)
    stats_out: dict = {}
    bloom_out: dict = {}
    for base, fl in by_base.items():
        reader = spark.read
        if schema_json:
            reader = reader.schema(
                T.StructType.fromJson(json.loads(schema_json))
            )
        df = reader.option(
            "basePath", base
        ).parquet(*[_ref_path(fs, table_dir, f) for f in fl])
        scs = [c for c in stats_cols if c in df.columns]
        bcs = [c for c in bloom_cols if c in df.columns]
        if not (scs or bcs):
            continue
        aggs = []
        for i, c in enumerate(scs):
            aggs.append(F.min(F.col(c)).alias("_mn%d" % i))
            aggs.append(F.max(F.col(c)).alias("_mx%d" % i))
        for ci, c in enumerate(bcs):
            for i in range(k):
                # first 15 hex chars of md5 = 60 bits → fits a long;
                # conv(..., 16, 10) matches Python int(hex, 16)
                pos = F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    _bloom_canon_expr(df, c),
                                    F.lit(":%d" % i),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(m_bits),
                ).cast("int")
                aggs.append(
                    F.collect_set(pos).alias("p_%d_%d" % (ci, i))
                )
        rows = (
            df.groupBy(F.input_file_name().alias("_f"))
            .agg(*aggs)
            .collect()  # O(files in this version dir) — metadata-sized
        )
        for r in rows:
            rel = _rel_of(r["_f"], fl)
            if rel is None:
                continue
            st = {}
            for i, c in enumerate(scs):
                mn, mx = r["_mn%d" % i], r["_mx%d" % i]
                if mn is None:
                    continue
                st[c] = [_json_stat(mn), _json_stat(mx)]
            if st:
                stats_out[rel] = st
            per_col = {}
            for ci, c in enumerate(bcs):
                bits = bytearray(m_bits // 8)
                any_pos = False
                for i in range(k):
                    for pos in r["p_%d_%d" % (ci, i)] or []:
                        bits[pos // 8] |= 1 << (pos % 8)
                        any_pos = True
                if any_pos:
                    per_col[c] = {
                        "m": m_bits,
                        "k": k,
                        "b64": base64.b64encode(bytes(bits)).decode(),
                    }
            if per_col:
                bloom_out[rel] = per_col
    return stats_out, bloom_out


def _enrich_seg(
    spark, fs, table_dir, new_files, seg_data, stats_cols, bloom_cols,
    schema_json,
):
    """Attach write-time per-file indexes (min/max stats, equality
    blooms) to a freshly written segment sidecar — ONE distributed job
    over the DELTA files only, shared by both index kinds (fused scan,
    guide §1.2: don't run two passes where one suffices)."""
    if stats_cols or bloom_cols:
        st, bl = _distributed_file_indexes(
            spark, fs, table_dir, new_files, stats_cols, bloom_cols,
            schema_json=schema_json,
        )
        if stats_cols:
            seg_data["file_stats"] = st
        if bloom_cols:
            seg_data["file_blooms"] = bl


def _index_defaults(prev, stats_cols, bloom_cols, schema_json=None):
    """Resolve a write's index columns: explicit args always win;
    otherwise the table's persisted index spec (``index_cols`` — set by
    :func:`set_index_columns` or the creating ``atomic_publish``)
    applies, so EVERY write flavor — micro-batch appends, merges,
    updates, compactions — indexes its new files without the caller
    remembering to pass ``stats_cols``/``bloom_cols`` each time (a
    forgotten arg at 100 TB = unindexed files = degraded point
    lookups forever). Defaulted columns are intersected with the write
    schema so a later rename/drop never breaks writes; the surviving
    columns keep indexing."""
    ic = (prev or {}).get("index_cols") or {}
    sc = stats_cols if stats_cols is not None else ic.get("stats")
    bc = bloom_cols if bloom_cols is not None else ic.get("bloom")
    if schema_json and (stats_cols is None or bloom_cols is None):
        names = {f["name"] for f in json.loads(schema_json)["fields"]}
        if stats_cols is None and sc:
            sc = [c for c in sc if c in names]
        if bloom_cols is None and bc:
            bc = [c for c in bc if c in names]
    return sc, bc


def _segments_of(fs, table_dir: str, prev: dict):
    """``(segments, removed)`` base for building the next snapshot on
    top of ``prev``. The carried segments and delete vectors load
    through their refusing loaders first, so no commit carries a shape
    this reader would refuse to read. A segment already in the cache
    passed that check when it was read, so a long-lived writer's
    append stats no carried segment."""
    segs = list(prev.get("segments") or [])
    for seg in segs:
        if _seg_path(fs, table_dir, seg) not in _SEG_CACHE:
            _load_seg(fs, table_dir, seg)
    _load_dv(fs, table_dir, prev)
    return segs, list(prev.get("removed") or [])


# ---------------------------------------------------------------------------
# HIDDEN PARTITIONING (Iceberg-style partition transforms, hive-cased).
#
# ``partition_by`` entries may be TRANSFORM expressions over a source
# column instead of plain column names:
#
#   "days(ts)"        -> physical column  ts_day    (DATE)
#   "months(ts)"      -> ts_month  (STRING 'yyyy-MM')
#   "years(ts)"       -> ts_year   (INT)
#   "hours(ts)"       -> ts_hour   (STRING 'yyyy-MM-dd-HH')
#   "bucket(16, id)"  -> id_bucket (INT = pmod(xxhash64(id), 16))
#   "truncate(8, s)"  -> s_trunc   (prefix for strings, floor-to-
#                                   multiple for integral types)
#
# The table's manifest stores BOTH views of the layout: ``partition_by``
# keeps the PHYSICAL partition column names (so every existing path
# matcher, rebase check and partition-level operator keeps working on
# names that actually appear in file paths), and ``partition_spec`` is
# the transform list ``[{name, transform, source, arg, source_type}]``
# (identity entries included so the spec is self-contained; a manifest
# with no ``partition_spec`` is an identity layout, backward
# compatible). The derived column is materialized INSIDE the shared
# write paths right before ``partitionBy`` — it lives only in directory
# names, never in data pages or the logical schema — and readers drop
# it by selecting the manifest schema (see ``_scan_groups``).
#
# The 100 TB point of this: a user writes ``where ts between a and b``
# against a days(ts)-partitioned table and ``read_published(skip=
# {"ts": (a, b)})`` prunes whole day DIRECTORIES from the manifest's
# file list before Spark ever plans the scan — without the user ever
# materializing or even knowing the physical ``ts_day`` column
# (Iceberg spec: partition transforms; reduced here to the hive case
# the same way set_partition_layout reduces spec evolution).
#
# ``bucket`` hashes with Spark's ``xxhash64`` (seed 42) and the hash
# DEPENDS ON the column's physical type (xxhash64(int 7) !=
# xxhash64(long 7)), so the spec pins ``source_type`` at creation:
# point-lookup pruning casts the probe literal to it, and
# ``widen_column`` refuses to widen a bucket source (the old paths'
# bucket numbers would stop matching recomputed ones).
# ---------------------------------------------------------------------------

_PT_TRANSFORMS = ("days", "date", "months", "years", "hours", "bucket",
                  "truncate")
_PT_SUFFIX = {"days": "_day", "date": "_day", "months": "_month",
              "years": "_year", "hours": "_hour", "bucket": "_bucket",
              "truncate": "_trunc"}


def _pt_parse_one(s: str):
    """Parse one ``partition_by`` entry. Returns an identity dict for a
    plain column name, a transform dict for ``t(col)`` / ``t(n, col)``
    syntax, and raises on a malformed transform call."""
    import re

    s = s.strip()
    m = re.match(r"^([A-Za-z_]+)\s*\((.*)\)$", s)
    if not m:
        return {"name": s, "transform": "identity", "source": s}
    t, inner = m.group(1).lower(), m.group(2).strip()
    if t not in _PT_TRANSFORMS:
        raise ValueError(
            "partition transform %r is not supported (have: %s)"
            % (t, ", ".join(sorted(set(_PT_TRANSFORMS))))
        )
    if t in ("bucket", "truncate"):
        parts = [p.strip() for p in inner.split(",")]
        if len(parts) != 2 or not parts[0].isdigit() or int(parts[0]) < 1:
            raise ValueError(
                "%s transform takes (N, column) with N >= 1: %r" % (t, s)
            )
        arg, src = int(parts[0]), parts[1]
    else:
        if "," in inner or not inner:
            raise ValueError("%s transform takes one column: %r" % (t, s))
        arg, src = None, inner
    t = "days" if t == "date" else t
    d = {"name": src + _PT_SUFFIX[t], "transform": t, "source": src}
    if arg is not None:
        d["arg"] = arg
    return d


def _parse_partition_by(partition_by, schema_json=None):
    """Parse a user-facing ``partition_by`` (strings, possibly with
    transform syntax) into ``(physical_names, spec_or_None)``. ``spec``
    is None for a pure-identity layout (legacy manifest shape). With
    ``schema_json`` the sources are validated against the schema and
    each entry records the source's Spark type."""
    entries = (
        [partition_by] if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    spec = [_pt_parse_one(s) for s in entries]
    hidden = [t for t in spec if t["transform"] != "identity"]
    names = [t["name"] for t in spec]
    if len(set(names)) != len(names):
        raise ValueError(
            "partition_by derives duplicate physical columns: %s" % names
        )
    if schema_json is not None:
        types = {
            f["name"]: f["type"]
            for f in json.loads(schema_json)["fields"]
        }
        for t in spec:
            if t["source"] not in types:
                raise ValueError(
                    "partition column source %r is not a table column "
                    "(schema has: %s)" % (t["source"], sorted(types))
                )
            ty = types[t["source"]]
            t["source_type"] = ty if isinstance(ty, str) else "nested"
            tf = t["transform"]
            if tf in ("days", "months", "years", "hours") and ty not in (
                "timestamp", "timestamp_ntz", "date"
            ):
                raise ValueError(
                    "%s(%s) needs a timestamp/date source (got %s)"
                    % (tf, t["source"], ty)
                )
            if tf == "truncate" and not (
                ty == "string"
                or ty in ("byte", "short", "integer", "long")
            ):
                raise ValueError(
                    "truncate(%s) needs a string or integral source "
                    "(got %s)" % (t["source"], ty)
                )
            if tf == "bucket" and not isinstance(ty, str):
                raise ValueError(
                    "bucket(%s) needs an atomic source column"
                    % t["source"]
                )
        for t in hidden:
            if t["name"] in types:
                raise ValueError(
                    "derived partition column %r collides with an "
                    "existing table column — rename one" % t["name"]
                )
    return names, (spec if hidden else None)


def _pt_expr(t: dict):
    """The Spark Column computing a transform's physical partition
    value from its source column — deterministic, engine-side, used
    identically by every write flavor."""
    from pyspark.sql import functions as F

    c = F.col(t["source"])
    tf = t["transform"]
    if tf == "identity":
        return c
    if tf == "days":
        return F.to_date(c)
    if tf == "months":
        return F.date_format(c, "yyyy-MM")
    if tf == "years":
        return F.year(c)
    if tf == "hours":
        return F.date_format(c, "yyyy-MM-dd-HH")
    if tf == "bucket":
        return F.pmod(F.xxhash64(c), F.lit(t["arg"])).cast("int")
    if tf == "truncate":
        if t.get("source_type") == "string":
            return F.substring(c, 1, t["arg"])
        return c - F.pmod(c, F.lit(t["arg"]))
    raise ValueError("unknown partition transform %r" % tf)


def _materialize_partition_cols(df: DataFrame, spec) -> DataFrame:
    """Add the HIDDEN (non-identity) physical partition columns to a
    frame about to be written. Identity columns are already data
    columns; derived ones are recomputed from the spec so every write
    flavor places rows identically. Idempotent: recomputing over an
    already-materialized frame yields the same values."""
    for t in spec or []:
        if t["transform"] != "identity":
            df = df.withColumn(t["name"], _pt_expr(t))
    return df


def _pt_rebalance(df: DataFrame, parts) -> DataFrame:
    """Cluster a partitioned write's rows by their partition columns
    before the write (REBALANCE hint, guide §6): without it every write
    task emits one file per partition value it holds — days × tasks
    tiny files per commit — and every later scan, index job and commit
    pays that file count. AQE's rebalance both coalesces small
    partitions and splits skewed ones
    (``optimizeSkewsInRebalancePartitions``), so a hot partition still
    fans out across tasks at scale. No-op for unpartitioned writes."""
    if not parts:
        return df
    return df.hint("rebalance", *parts)


def _pt_hidden_names(spec) -> List[str]:
    return [t["name"] for t in spec or [] if t["transform"] != "identity"]


def _pt_py(t: dict, value, spark: Optional[SparkSession] = None):
    """Driver-side twin of :func:`_pt_expr` for a single LITERAL —
    what read-time pruning uses to turn a predicate bound on the
    SOURCE column into the physical partition value it must match.
    Returns the canonical hive path string for the value, or None when
    the literal can't be transformed faithfully (caller stays
    conservative and skips pruning). ``bucket`` needs Spark itself for
    hash parity (xxhash64 is type-sensitive; a Python reimplementation
    would silently diverge) — one 1-row local-relation job per probed
    literal, milliseconds, driver-only."""
    import datetime as _dt

    tf = t["transform"]
    if tf == "identity":
        return str(value)
    if tf in ("days", "months", "years", "hours"):
        v = value
        if isinstance(v, str):
            try:
                v = _dt.datetime.fromisoformat(v)
            except ValueError:
                return None
        if isinstance(v, _dt.datetime):
            pass
        elif isinstance(v, _dt.date):
            v = _dt.datetime(v.year, v.month, v.day)
        else:
            return None
        if tf == "days":
            return v.strftime("%Y-%m-%d")
        if tf == "months":
            return v.strftime("%Y-%m")
        if tf == "years":
            return str(v.year)
        return v.strftime("%Y-%m-%d-%H")
    if tf == "truncate":
        if t.get("source_type") == "string":
            return str(value)[: t["arg"]] if isinstance(value, str) else None
        if isinstance(value, bool) or not isinstance(value, int):
            return None
        return str(value - (value % t["arg"]))
    if tf == "bucket":
        if spark is None:
            return None
        from pyspark.sql import functions as F

        st = t.get("source_type")
        if not st:
            return None
        lit = F.lit(value)
        if not isinstance(value, str) or st == "string":
            # cast to the PINNED source type (hash parity); a string
            # probe against a non-string source casts too
            lit = lit.cast(st)
        row = (
            spark.range(1)
            .select(F.pmod(F.xxhash64(lit), F.lit(t["arg"])).cast("int"))
            .first()
        )
        return None if row[0] is None else str(row[0])
    return None


def _pt_path_value(path: str, name: str) -> Optional[str]:
    """The hive path value of partition column ``name`` in a
    manifest-relative file path, unescaped — or None when the file
    predates the layout (no such segment) or holds the hive null
    marker."""
    from urllib.parse import unquote

    for seg in path.split("/"):
        if seg.startswith(name + "="):
            v = seg[len(name) + 1:]
            if v == "__HIVE_DEFAULT_PARTITION__":
                return None
            return unquote(v)
    return None


_PT_MONOTONE = ("identity", "days", "months", "years", "hours", "truncate")


def _pt_cmp_key(t: dict, s):
    """Comparable form of a value for RANGE pruning, or None when no
    order-faithful comparison exists (caller keeps the file). Numeric
    sources compare numerically; date-shaped transform outputs and
    string/date identities compare lexicographically (the formats are
    zero-padded, so string order IS time order). Float identities MUST
    go numeric — "10.5" < "2.0" lexicographically."""
    st = t.get("source_type")
    if t["transform"] == "years" or (
        t["transform"] in ("identity", "truncate")
        and st in ("byte", "short", "integer", "long")
    ):
        try:
            return int(s)
        except (TypeError, ValueError):
            return None
    if t["transform"] == "identity":
        if st in ("float", "double") or (
            isinstance(st, str) and st.startswith("decimal")
        ):
            try:
                return float(s)
            except (TypeError, ValueError):
                return None
        if st not in ("string", "date", "timestamp", "timestamp_ntz"):
            return None
    return s if isinstance(s, str) else None


def _pt_prune_files(
    files, spec, partition_by, skip, skip_eq, spark
) -> list:
    """MANIFEST-LEVEL partition-path pruning: drop files whose hive
    path value for a partition column is provably outside a caller
    predicate on the TRANSFORM SOURCE column. ``skip`` bounds prune
    monotone transforms (days/months/years/hours/truncate/identity);
    ``skip_eq`` point probes prune every transform including bucket.
    Conservative by construction: a file without the path segment
    (pre-evolution layout), a null partition, or an untransformable
    literal is always kept. O(files) driver work on the already-
    resolved manifest list — the same cost class as stats pruning."""
    spec = spec or [
        {"name": c, "transform": "identity", "source": c}
        for c in (partition_by or [])
    ]
    rules = []  # (phys_name, lo_key, hi_key, eq_str, t)
    for t in spec:
        src = t["source"]
        eq = None
        lo_k = hi_k = None
        if skip_eq and src in skip_eq:
            eq = _pt_py(t, skip_eq[src], spark)
        if (
            skip
            and src in skip
            and t["transform"] in _PT_MONOTONE
        ):
            lo, hi = skip[src]
            if lo is not None:
                lo_s = _pt_py(t, lo, spark)
                lo_k = _pt_cmp_key(t, lo_s) if lo_s is not None else None
            if hi is not None:
                hi_s = _pt_py(t, hi, spark)
                hi_k = _pt_cmp_key(t, hi_s) if hi_s is not None else None
        if eq is not None or lo_k is not None or hi_k is not None:
            rules.append((t["name"], lo_k, hi_k, eq, t))
    if not rules:
        return list(files)

    def _keep(f: str) -> bool:
        for name, lo_k, hi_k, eq, t in rules:
            v = _pt_path_value(f, name)
            if v is None:
                continue  # pre-evolution file or null partition: read it
            if eq is not None and v != eq:
                return False
            vk = _pt_cmp_key(t, v)
            if vk is None:
                continue
            try:
                if lo_k is not None and vk < lo_k:
                    return False
                if hi_k is not None and vk > hi_k:
                    return False
            except TypeError:
                continue  # incomparable: stay conservative
        return True

    return [f for f in files if _keep(f)]


def atomic_publish(
    df: DataFrame,
    table_dir: str,
    partition_by=None,
    lease_ttl_ms: int = 300_000,
    meta: Optional[dict] = None,
    stats_cols=None,
    bloom_cols=None,
    _lease: Optional[_Lease] = None,
    data_change: bool = True,
    operation: str = "overwrite",
    _partition_spec=None,
    _keep_layout: bool = False,
) -> int:
    """Write ``df`` as the table's next snapshot and commit it
    atomically. Returns the committed version number. The manifest row
    count is observed during the write — no second scan.

    ``operation`` labels the commit in the snapshot history (see
    :func:`table_history`) — composite flavors (merge/compact)
    pass their own name.

    ``partition_by`` hive-partitions the snapshot's data files
    (``_v<N>/col=val/part-*.parquet``); the manifest records the
    partition columns and readers restore them via a basePath-anchored
    read, so PARTITION PRUNING works on the published table exactly as
    on a hive layout while file resolution still goes only through the
    manifest.

    TIME TRAVEL: the manifest carries a ``snapshots`` map with every
    still-live committed version's file list/row count/schema. Because
    the history rides the SAME atomically-swapped manifest, it can
    never disagree with the commit it describes — a version appears in
    history iff its publish committed. ``read_published(version=k)``
    reads any retained snapshot; ``vacuum`` prunes history entries
    whose data directories it deletes."""
    fs = _fs_for(table_dir, df.sparkSession)
    fs.mkdirs(table_dir)
    lease = _lease or _Lease(fs, table_dir, ttl_ms=lease_ttl_ms).acquire()
    try:
        prev = _read_manifest(table_dir, fs)
        # hidden partitioning: resolve layout + transform spec; df
        # stays LOGICAL (derived columns live only in directory names)
        # and the materialized twin is what hits the writer. A caller
        # re-publishing a table (compact/clone) threads the committed
        # spec via _partition_spec and may pass an already-materialized
        # frame — normalize by dropping the derived names first.
        if _partition_spec:
            spec = list(_partition_spec)
            parts = [t["name"] for t in spec]
            df = df.drop(
                *[n for n in _pt_hidden_names(spec) if n in df.columns]
            )
        else:
            parts, spec = _parse_partition_by(
                partition_by, df.schema.json() if partition_by else None
            )
        staged = _materialize_partition_cols(df, spec)
        if not _keep_layout:
            # a caller that pre-laid-out the frame (compact's
            # byte-sized range layout) passes _keep_layout=True
            staged = _pt_rebalance(staged, parts)
        # a full rewrite starts the field-id space fresh (physical ==
        # logical again) and resets the evolution flags — nothing of
        # the old layout survives to resurrect
        fids = {f.name: i + 1 for i, f in enumerate(df.schema.fields)}
        # WRITE-TIME indexes: distributed jobs over the files this
        # publish just produced — every backend; skip=/skip_eq= prune
        # from the first read. Explicit cols on a full publish DEFINE
        # the table's index spec (persisted; every later write flavor
        # defaults to it); absent args inherit the previous spec.
        explicit = stats_cols is not None or bloom_cols is not None
        with _StagedCommit(
            fs, table_dir, prev, "atomic_publish", lease_ttl_ms, lease=lease
        ) as st:
            st.write(staged, parts)
            stats_cols, bloom_cols = st.stage(
                df.schema.json(), fids, stats_cols, bloom_cols
            )
            entry = st.entry(None, operation, meta, data_change)
            entry.update(
                schema=df.schema.json(),
                partition_by=parts,
                field_ids=fids,
                next_field_id=len(fids) + 1,
                schema_evolved=False,
                retired_names=[],
            )
            if spec:
                entry["partition_spec"] = spec
            if explicit:
                entry["index_cols"] = {
                    "stats": list(stats_cols or []),
                    "bloom": list(bloom_cols or []),
                }
            return st.commit(lambda base: entry)
    finally:
        if _lease is None:
            lease.release()


def _next_version(fs, table_dir: str, prev) -> int:
    """Next version id: must clear BOTH the committed manifest and any
    orphan ``_v<K>`` left by a writer that died before its commit."""
    orphans = [
        int(d[2:])
        for d in fs.listdir(table_dir)
        if d.startswith("_v") and d[2:].isdigit()
    ]
    committed = int(prev["version"]) if prev else 0
    return max([committed] + orphans) + 1


def _claim_vdir(fs, table_dir: str, start: int) -> str:
    """Reserve a version DIRECTORY name with the filesystem's
    exclusive-create primitive (a ``_v<N>.claim`` marker) so writers
    that stage data OUTSIDE the commit lease can never write into the
    same directory. Directory names are now decoupled from snapshot
    version numbers — the snapshot version is assigned at COMMIT time
    (monotonic under the lease), while the claimed dir name just has to
    be unique; under no contention they coincide. The directory itself
    is created right after its claim, so a staging write always lands
    in a directory that already exists (and is its writer's alone)."""
    existing = set(fs.listdir(table_dir))
    n = start
    for _ in range(100_000):  # bound: a persistent FS error (perms,
        # missing parent) must surface, not spin the claim loop forever
        name = "_v%d" % n
        if name not in existing and fs.create_exclusive(
            fs.join(table_dir, name + ".claim"), ""
        ):
            fs.mkdirs(fs.join(table_dir, name))
            return name
        n += 1
    raise ConcurrentWriteError(
        "could not claim a version directory after 100k attempts — "
        "the filesystem is refusing exclusive creates"
    )


class _ClaimBeat:
    """Staging heartbeat: keeps an optimistic writer's ``.claim``
    marker's mtime fresh (every ttl/4) from claim to commit. Writers
    stage data with NO lease held, so the claim's age is the ONLY
    liveness signal ``vacuum`` has — without the beat, a data write
    longer than the lease TTL would let a concurrent vacuum rmtree the
    in-flight staging dir, and the writer's later commit would
    reference deleted files (silent corruption). With it, vacuum only
    ever reclaims claims whose writer actually died."""

    def __init__(self, fs, table_dir: str, seg: str, ttl_ms: int):
        self._fs = fs
        self._path = fs.join(table_dir, seg + ".claim")
        self._ttl_ms = ttl_ms
        self._stop = None
        self._thread = None

    def start(self) -> "_ClaimBeat":
        import threading

        self._stop = threading.Event()

        def beat(stop, fs, path, interval_s):
            while not stop.wait(interval_s):
                try:
                    fs.touch(path)
                except Exception:
                    return  # claim gone (committed+vacuumed): done

        self._thread = threading.Thread(
            target=beat,
            args=(
                self._stop,
                self._fs,
                self._path,
                max(self._ttl_ms / 4000.0, 0.25),
            ),
            daemon=True,
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        """Idempotent; JOINS the beat thread so no in-flight ``touch``
        can recreate the claim after the caller deletes it (the
        lost-race staging reclaim depends on this ordering)."""
        if self._stop is not None:
            self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=30)
            self._thread = None


def _hidden(rel: str) -> bool:
    """Spark's hidden-path rule over a path below a version directory:
    any component starting with ``.``, or with ``_`` and holding no
    ``=`` (a hive ``_col=v`` directory is data), hides what is under it
    — staging sidecars (``_dvp``), committer temp dirs (``_temporary``)
    and markers (``_SUCCESS``) are never data files."""
    return any(
        c.startswith(".") or (c.startswith("_") and "=" not in c)
        for c in rel.split("/")
    )


def _scan_written(fs, vdir: str, vname: str):
    """(manifest-relative file list, {path: bytes}) for the data files
    of a freshly written version directory — hidden paths excluded."""
    rel = sorted(
        f
        for f in fs.walk_files(vdir)
        if f.endswith(".parquet") and not _hidden(f)
    )
    files = ["%s/%s" % (vname, f) for f in rel]
    sizes = {
        "%s/%s" % (vname, f): fs.file_size(fs.join(vdir, f))
        for f in rel
    }
    return files, sizes


def _commit(
    fs, table_dir: str, prev, version: int, entry: dict, lease=None
) -> None:
    """Fold ``entry`` into the snapshot history and atomically swap the
    manifest — THE commit point shared by every publish flavor.

    CAS-validated: the swap re-reads the manifest and verifies it is
    still the ``prev`` this commit was built from (and, when the
    caller's lease is passed, that the lock file still carries our
    token). Without this, a writer whose lease was TTL-broken mid-write
    would finish, swap, and silently erase the breaker's committed
    snapshot — the version number would even go BACKWARDS. With it,
    the evicted writer raises :class:`ConcurrentWriteError`; its orphan
    ``_v<N>`` dir is garbage the next ``vacuum`` removes."""
    cur = _read_manifest(table_dir, fs)
    cur_v = int(cur["version"]) if cur else 0
    prev_v = int(prev["version"]) if prev else 0
    if cur_v != prev_v:
        raise ConcurrentWriteError(
            "commit lost a concurrent-writer race: the table moved from "
            "version %d to %d while this write ran (its lease was "
            "probably TTL-broken); this snapshot is NOT committed"
            % (prev_v, cur_v)
        )
    if lease is not None and not lease.still_mine():
        raise ConcurrentWriteError(
            "commit lease no longer held (TTL-broken by another writer); "
            "refusing to swap the manifest over their commit"
        )
    # table-level meta (e.g. a streaming sink's exactly-once batch-id
    # HWM) carries FORWARD through every publish flavor — a maintenance
    # compact() must not erase the ingest HWM; a writer
    # that passes meta overrides per-key, never wholesale
    merged_meta = {
        **((prev or {}).get("meta") or {}),
        **(entry.get("meta") or {}),
    }
    if merged_meta:
        entry["meta"] = merged_meta
    # schema-evolution bookkeeping carries forward unless the entry
    # explicitly set its own (rename/drop commits, and full overwrites
    # which reset it — a rewrite leaves nothing to resurrect)
    for k in (
        "field_ids", "next_field_id", "schema_evolved", "retired_names",
        "index_cols",
    ):
        if entry.get(k) is None and prev and prev.get(k) is not None:
            entry[k] = prev[k]
    history = dict(prev["snapshots"]) if prev else {}
    entry.setdefault("committed_at_ms", _now_ms())
    history[str(version)] = entry
    manifest = {
        "version": version,
        "format_version": _FORMAT_VERSION,
        "snapshots": history,
        **entry,
    }
    fs.replace_with(
        json.dumps(manifest),
        _manifest_path(table_dir, fs),
        ".tmp.%d" % version,
    )


class _StagedCommit:
    """The ONE staging pipeline every table writer commits through:
    claim, write, scan, index, rebase, commit and cleanup in one place.

    Layout (owned here and nowhere else): entering claims a fresh
    ``_v<N>`` directory (:func:`_claim_vdir` creates it with its
    ``.claim`` marker) and keeps the claim fresh (:class:`_ClaimBeat`)
    until the commit. The data write lands in it in APPEND mode — the
    exclusive claim, not ``ErrorIfExists``, is what makes it fresh —
    and a sidecar lands in ``<vdir>/_<name>/<name>``, below a hidden
    dir that :func:`_scan_written` (Spark's own rule) never lists as
    data. So the sidecar build runs concurrently with the data write
    without colliding with it or being cited as a data file.

    Flow: ``sidecar`` (optional; starts on a second driver thread when
    ``write`` starts, or runs inline when nothing is written),
    ``write`` (row count observed in the same job, then the scan),
    ``stage``
    (write-time indexes and field-id stamp into ``_seg.json``),
    ``commit`` (joins the sidecar, takes the short commit lease unless
    the writer already holds one, and rebases onto a moved table when
    :func:`_check_rebase` and the writer's ``still_valid`` allow it;
    then :func:`_commit` and the claim release). A writer keeps only
    its frame, its rebase-validity check and its entry delta.

    One cleanup rule: leaving the block before :func:`_commit` is
    entered — an exception, a lost race, a no-op return — joins the
    sidecar, stops the beat, then deletes the staging dir and its
    claim. Nothing is reclaimed after that point: the swap may have
    landed, and an unreferenced dir is vacuum's to judge."""

    def __init__(self, fs, table_dir: str, base, who: str,
                 lease_ttl_ms: int = 300_000, lease=None):
        # ``lease``: a lease the writer holds across plan + write (full
        # rewrites, clones) — the base is then pinned, never rebased
        self.fs, self.table_dir, self.base, self.who = (
            fs, table_dir, base, who,
        )
        self._ttl = lease_ttl_ms
        self._lease = lease
        self.n_rows, self.files, self.sizes = 0, [], {}
        self._spark = self._queued = self._pool = self._fut = None
        self._committing = False

    def __enter__(self) -> "_StagedCommit":
        self.seg = _claim_vdir(
            self.fs, self.table_dir,
            _next_version(self.fs, self.table_dir, self.base),
        )
        self.vdir = self.fs.join(self.table_dir, self.seg)
        self._beat = _ClaimBeat(
            self.fs, self.table_dir, self.seg, self._ttl
        ).start()
        return self

    def __exit__(self, *exc) -> None:
        if self._committing:
            self._beat.stop()
            return
        self._queued = None
        try:
            self.sidecar_result()
        except Exception:
            pass  # the block's own outcome is what propagates
        self._beat.stop()
        for drop, path in (
            (self.fs.rmtree, self.vdir),
            (self.fs.delete_file, self.vdir + ".claim"),
        ):
            try:
                drop(path)
            except Exception:
                pass

    def sidecar(self, name: str, build) -> None:
        """Queue ``build(rel)``, which writes a sidecar dataset at the
        table-relative ``rel = <seg>/_<name>/<name>`` and returns what
        the commit needs from it. The hidden ``_<name>`` dir keeps the
        dataset off the data scan; the dataset root itself is not
        hidden, because Spark judges a read's root paths by their own
        name and warns "All paths were ignored" for a hidden one (the
        rows still read, but the warning says otherwise)."""
        self._queued = (build, "%s/_%s/%s" % (self.seg, name, name))

    def sidecar_result(self):
        """Join the sidecar — running it inline when no ``write``
        started it — and return its result (None without one)."""
        if self._queued is not None:
            build, rel = self._queued
            self._queued = None
            return build(rel)
        if self._fut is None:
            return None
        fut, self._fut = self._fut, None
        try:
            return fut.result()
        finally:
            self._pool.shutdown(wait=True)

    def write(self, df: DataFrame, parts=()) -> int:
        """Write ``df`` into the staging dir with its row count observed
        by the same job, then list the written data files. A queued
        sidecar starts first, so its jobs fill the executor slots the
        write's tail leaves idle. Returns the row count."""
        from pyspark.sql import Observation, functions as F

        if self._queued is not None:
            from concurrent.futures import ThreadPoolExecutor

            build, rel = self._queued
            self._queued = None
            self._pool = ThreadPoolExecutor(max_workers=1)
            self._fut = self._pool.submit(build, rel)
        self._spark = df.sparkSession
        obs = Observation()
        writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "append"
        )
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(self.vdir)
        self.n_rows = int(obs.get["n"])
        self.files, self.sizes = _scan_written(self.fs, self.vdir, self.seg)
        return self.n_rows

    def stage(self, schema_json: str, fids: dict, stats_cols=None,
              bloom_cols=None):
        """Write the segment sidecar ``<seg>/_seg.json`` of the written
        files: write-time indexes (explicit columns, else the table's
        index spec — one distributed job over these files only) and the
        ``{field id: physical name}`` stamp. No files, no segment.
        Returns the index columns used."""
        sc, bc = _index_defaults(
            self.base, stats_cols, bloom_cols, schema_json
        )
        if self.files:
            seg_data = {"files": self.files, "file_sizes": self.sizes}
            _enrich_seg(
                self._spark, self.fs, self.table_dir, self.files,
                seg_data, sc, bc, schema_json,
            )
            _stamp_fields(seg_data, fids)
            _write_seg(self.fs, self.table_dir, self.seg, seg_data)
        return sc, bc

    def entry(self, base, operation: str, meta=None,
              data_change: bool = True) -> dict:
        """The next snapshot entry: ``base`` plus this commit's written
        files (a fresh table when ``base`` is None). The segment is
        cited iff files were written. Writers edit their delta into
        it."""
        b = base or {}
        segs, removed, n_files, size = [], [], 0, 0
        if base is not None:
            segs, removed = _segments_of(self.fs, self.table_dir, base)
            n_files, size = base["n_files"], base["size_bytes"]
        entry = {
            "segments": segs + [self.seg] if self.files else segs,
            "removed": removed,
            "n_rows": int(b.get("n_rows") or 0) + self.n_rows,
            "n_files": n_files + len(self.files),
            "size_bytes": size + sum(self.sizes.values()),
            "schema": b.get("schema"),
            "partition_by": b.get("partition_by") or [],
            "operation": operation,
        }
        if b.get("partition_spec"):
            entry["partition_spec"] = b["partition_spec"]
        if meta:
            entry["meta"] = dict(meta)
        if not data_change:
            # Delta's dataChange=false: the commit re-cites existing
            # ROWS; incremental readers skip it
            entry["data_change"] = False
        return entry

    def commit(self, entry_of, still_valid=None):
        """Join the sidecar, then under the commit lease: re-read the
        manifest (it must not have vanished); if the table moved, rebase
        iff :func:`_check_rebase` and ``still_valid(cur)`` pass (both
        raise :class:`ConcurrentWriteError` otherwise); swap in
        ``entry_of(base)`` with :func:`_commit` and release the claim.
        Returns the committed version."""
        self.sidecar_result()
        lease = self._lease or _Lease(
            self.fs, self.table_dir, ttl_ms=self._ttl
        ).acquire_wait(wait_ms=_COMMIT_WAIT_MS)
        try:
            base = self.base
            if self._lease is None:
                cur = _read_manifest(self.table_dir, self.fs)
                if cur is None:
                    raise ConcurrentWriteError(
                        "%s: manifest vanished mid-write" % self.who
                    )
                if int(cur["version"]) != int(base["version"]):
                    _check_rebase(base, cur, self.who)
                    if still_valid is not None:
                        still_valid(cur)
                base = cur
            entry = entry_of(base)
            self._committing = True
            out = (int(base["version"]) if base else 0) + 1
            _commit(self.fs, self.table_dir, base, out, entry, lease=lease)
            # committed: the claim's job (name uniqueness, in-flight
            # liveness for vacuum) is over
            self.fs.delete_file(self.vdir + ".claim")
            return out
        finally:
            if self._lease is None:
                lease.release()


def append_publish(
    df: DataFrame,
    table_dir: str,
    partition_by=None,
    lease_ttl_ms: int = 300_000,
    meta: Optional[dict] = None,
    schema_mode: str = "strict",
    stats_cols=None,
    bloom_cols=None,
    cluster_by=None,
    cluster_files: Optional[int] = None,
) -> int:
    """Append-only snapshot: the next version's file list is the
    previous snapshot's files (CARRIED BY REFERENCE — nothing is
    rewritten or copied) plus ``df``'s freshly written files. This is
    the ingest-append shape at 100 TB: committing a 1 GB micro-batch
    onto a 100 TB table costs exactly the 1 GB write plus one manifest
    swap, never a table rewrite — the move that makes snapshot
    publishing viable as a continuous sink (``compact()`` later folds
    the accumulated small files; ``vacuum`` is reference-aware, so a
    version dir lives as long as ANY retained snapshot cites a file in
    it).

    On the first publish this is ``atomic_publish`` (``partition_by``
    seeds the layout); afterwards the table's committed layout wins and
    ``df`` must carry its partition columns.

    SCHEMA EVOLUTION: ``schema_mode='merge'`` lets the batch ADD new
    nullable columns — the manifest schema widens to the union, the
    batch is aligned to it (missing old columns filled null), and
    because readers pass the manifest schema to the parquet reader,
    files written before the widening read the new columns as null.
    Removals and type changes are rejected (a silent narrow/retype is
    how tables corrupt); ``'strict'`` (default) requires the exact
    committed schema.

    ``cluster_by=[cols]`` range-partitions and sorts the BATCH on the
    given columns before writing: each new file covers a narrow value
    range, so the write-time min/max stats are TIGHT and ``skip=`` range
    pruning on the landing table actually skips — the difference between
    "stats recorded" and "stats that prune" on an append-only ingest
    path. Batch-local ordering only: files of different batches may
    still overlap.

    CONCURRENCY (optimistic, write-serializable): the batch write runs
    with NO lease held — the commit lease guards only the final
    manifest swap. If another writer committed meanwhile, this append
    REBASES onto the newer snapshot (appends add files and remove
    nothing, so they commute with any commit that kept the schema and
    partition layout); a concurrent schema/layout change raises
    :class:`ConcurrentWriteError`. Streaming ingest therefore commits
    concurrently with partition maintenance on other partitions."""
    from pyspark.sql import functions as F

    fs = _fs_for(table_dir, df.sparkSession)
    fs.mkdirs(table_dir)
    prev = _read_manifest(table_dir, fs)
    if prev is None:
        return atomic_publish(
            df, table_dir, partition_by=partition_by, meta=meta,
            stats_cols=stats_cols, bloom_cols=bloom_cols,
            lease_ttl_ms=lease_ttl_ms, operation="append",
        )
    parts = prev.get("partition_by") or []
    schema_json = prev["schema"]
    if schema_mode == "merge":
        from pyspark.sql import types as T

        old = T.StructType.fromJson(json.loads(schema_json))
        old_names = {f.name for f in old.fields}
        new_by_name = {f.name: f for f in df.schema.fields}
        widened: dict = {}
        for f in old.fields:
            nf = new_by_name.get(f.name)
            if nf is None or nf.dataType == f.dataType:
                continue
            ot, nt = f.dataType.jsonValue(), nf.dataType.jsonValue()
            if _can_widen(ot, nt):
                # batch arrived WIDER (int→long etc.): widen the table
                # type in the same commit — same rules as widen_column
                # and the merge paths; zero data IO (narrow files read
                # natively upcast)
                widened[f.name] = nf.dataType
            elif _can_widen(nt, ot):
                pass  # narrower batch casts up in the align below
            else:
                raise ValueError(
                    "append_publish(merge): column %r type change "
                    "%s -> %s is neither a supported widening "
                    "(byte→short→int→long, float→double, int→double) "
                    "nor a narrower type castable to the table's"
                    % (f.name, f.dataType, nf.dataType)
                )
        added = [
            f for f in df.schema.fields if f.name not in old_names
        ]
        union = T.StructType(
            [
                T.StructField(
                    f.name, widened.get(f.name, f.dataType),
                    f.nullable, f.metadata,
                )
                for f in old.fields
            ]
            + [T.StructField(f.name, f.dataType, True) for f in added]
        )
        df = df.select(
            *[
                F.col(f.name).cast(f.dataType)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in union.fields
            ]
        )
        schema_json = union.json()
        retired = set(prev.get("retired_names") or [])
        readded = [f.name for f in added if f.name in retired]
        if readded:
            raise ValueError(
                "append_publish(merge): column name(s) %s were dropped "
                "or renamed away earlier — re-adding the name would "
                "resurrect old bytes on pre-evolution segments; pick a "
                "new name" % readded
            )
    else:
        # strict = full NAME + TYPE equality (nullability and field
        # metadata excluded). Name-only comparison would let a batch
        # with a retyped column (amount string vs double) commit —
        # the corruption only surfaces later, at scan time, when
        # the manifest schema is applied to mismatched files.
        new_sig = [
            (f["name"], f["type"])
            for f in json.loads(df.schema.json())["fields"]
        ]
        old_sig = [
            (f["name"], f["type"])
            for f in json.loads(schema_json)["fields"]
        ]
        if new_sig != old_sig:
            raise ValueError(
                "append_publish: batch schema differs from the "
                "committed table schema (names AND types must match; "
                "pass schema_mode='merge' to add nullable columns): "
                "batch=%s table=%s" % (new_sig, old_sig)
            )
    # the batch stages with NO lease held (the claimed dir is its
    # writer's alone); only the manifest swap contends
    pspec = prev.get("partition_spec")
    df = _materialize_partition_cols(df, pspec)
    if cluster_by:
        cl = (
            [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
        )
        # AQE sizes the range partitions by default (right at scale);
        # cluster_files pins the file count (tests, known-size batches)
        df = (
            df.repartitionByRange(int(cluster_files), *cl)
            if cluster_files
            else df.repartitionByRange(*cl)
        ).sortWithinPartitions(*cl)
    else:
        df = _pt_rebalance(df, parts)
    fids, nxt = _field_ids_of(prev)
    for name in [f["name"] for f in json.loads(schema_json)["fields"]]:
        if name not in fids:  # widened this commit: new id
            fids[name] = nxt
            nxt += 1
    with _StagedCommit(
        fs, table_dir, prev, "append_publish", lease_ttl_ms
    ) as st:
        st.write(df, parts)
        st.stage(schema_json, fids, stats_cols, bloom_cols)

        def entry_of(base):
            # O(delta) commit: carried files stay inside their segment
            # sidecars BY REFERENCE, and so do delete vectors — an
            # append touches no existing file (zero IO)
            entry = st.entry(base, "append", meta)
            entry.update(
                schema=schema_json, field_ids=fids, next_field_id=nxt
            )
            if base.get("dv"):
                entry["dv"] = base["dv"]
                entry["dv_rows"] = base.get("dv_rows")
            return entry

        # an append adds files and removes none, so it commutes with
        # ANY concurrent commit that kept the schema and layout
        return st.commit(entry_of)


_NULL_FLAGS = ("nullable", "containsNull", "valueContainsNull")


def _relaxed(node):
    """A schema JSON node with every nullability flag set: the table
    does not enforce nullability (strict appends exclude it, and
    Spark's file sources read every column back nullable), so a
    rewrite that re-reads the table (``compact``) relaxes the flags
    without changing the schema."""
    if isinstance(node, dict):
        return {
            k: True if k in _NULL_FLAGS else _relaxed(v)
            for k, v in node.items()
        }
    if isinstance(node, list):
        return [_relaxed(v) for v in node]
    return node


def _check_rebase(base: dict, cur: dict, who: str) -> None:
    """An optimistic commit may rebase onto a newer manifest only when
    the table's schema (up to nullability) and partition layout are
    unchanged — anything else is a real conflict the caller must
    see."""
    if _relaxed(json.loads(cur["schema"])) != _relaxed(
        json.loads(base["schema"])
    ):
        raise ConcurrentWriteError(
            "%s: concurrent schema change — rebase refused" % who
        )
    if (cur.get("partition_by") or []) != (base.get("partition_by") or []):
        raise ConcurrentWriteError(
            "%s: concurrent partition-layout change — rebase refused" % who
        )
    if (cur.get("partition_spec") or None) != (
        base.get("partition_spec") or None
    ):
        raise ConcurrentWriteError(
            "%s: concurrent partition-transform change — rebase refused"
            % who
        )


def _check_addressed(fs, table_dir: str, base: dict, cur: dict, files,
                     who: str) -> None:
    """Rebase validity of a commit planned against specific ``base``
    files (the files a rewrite replaces, the files a delete vector
    addresses): each must still be live in ``cur`` with the delete
    vector it had in ``base`` — else the rows read or the positions
    found are stale, and committing would drop or resurrect rows."""
    if not set(files) <= set(_entry_files(fs, table_dir, cur)):
        raise ConcurrentWriteError(
            "%s: a concurrent commit rewrote file(s) this commit "
            "addresses — re-run against the new snapshot" % who
        )
    base_dv = _load_dv(fs, table_dir, base)
    cur_dv = _load_dv(fs, table_dir, cur)
    if any(
        (base_dv.get(f) or None) != (cur_dv.get(f) or None) for f in files
    ):
        raise ConcurrentWriteError(
            "%s: a concurrent delete changed the delete vectors of a "
            "file this commit addresses — re-run against the new "
            "snapshot" % who
        )


def table_meta(
    table_dir: str, spark: Optional[SparkSession] = None
) -> dict:
    """The committed snapshot's writer-supplied ``meta`` dict ({} when
    none was recorded) — e.g. a streaming sink's exactly-once batch-id
    high-water mark."""
    fs = _fs_for(table_dir, spark)
    m = _read_manifest(table_dir, fs)
    return dict(m.get("meta") or {}) if m else {}


def describe_table(
    table_dir: str, spark: Optional[SparkSession] = None
) -> dict:
    """One-call property sheet for a published table — DESCRIBE DETAIL:
    everything an operator needs to reason about the table without
    touching data. Driver-side metadata only (one manifest read).

    Returns ``{"version", "committed_at_ms", "operation", "n_rows",
    "n_files", "size_bytes", "partition_by", "partition_spec"
    (hidden-partitioning transforms), "schema" (DDL string),
    "schema_evolved", "retired_names", "index_cols",
    "meta", "dv_files" (files carrying
    delete vectors), "dv_rows" (masked row count), "n_snapshots",
    "external_refs" (shallow-clone refs), "format_version"}``."""
    from pyspark.sql import types as T

    fs = _fs_for(table_dir, spark)
    m = _read_manifest(table_dir, fs)
    if m is None:
        raise ValueError("describe_table: no committed table here")
    dvmap = _load_dv(fs, table_dir, m)
    files = _entry_files(fs, table_dir, m)
    st = T.StructType.fromJson(json.loads(m["schema"]))
    return {
        "version": int(m["version"]),
        "committed_at_ms": m.get("committed_at_ms"),
        "operation": m.get("operation"),
        "n_rows": int(m["n_rows"]),
        "n_files": int(m["n_files"]),
        "size_bytes": int(m["size_bytes"]),
        "partition_by": list(m.get("partition_by") or []),
        "partition_spec": [
            dict(t) for t in (m.get("partition_spec") or [])
        ],
        "schema": st.simpleString(),
        "schema_evolved": bool(m.get("schema_evolved")),
        "retired_names": list(m.get("retired_names") or []),
        "index_cols": dict(m.get("index_cols") or {}),
        "meta": dict(m.get("meta") or {}),
        "dv_files": sum(1 for v in dvmap.values() if _dv_val_n(v)),
        "dv_rows": _dv_nrows(dvmap),
        "n_snapshots": len(m.get("snapshots") or {}),
        "external_refs": sum(1 for f in files if _is_ext(f)),
        "format_version": m.get("format_version"),
    }


def pinned_snapshot(spark: SparkSession, table_dir: str):
    """``(manifest, DataFrame)`` resolved from ONE manifest read — the
    planning primitive for optimistic maintenance. A caller that plans
    a rewrite from ``read_published`` and then commits via
    ``replace_partitions_publish`` performs TWO independent manifest
    reads; a commit landing between them into a touched partition is
    included in the commit-time baseline, so the disjointness check
    can't see it and its rows silently vanish from the rewrite (the
    lost-update window). Pinning means the rewrite plan AND the commit
    baseline (threaded through ``_base=``) come from the SAME snapshot,
    so the rebase check covers the whole span."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("pinned_snapshot: no committed table here")
    res = _resolve_entry(fs, table_dir, manifest)
    df = _read_files(
        spark,
        fs,
        table_dir,
        res["files"],
        manifest["schema"],
        bool(manifest.get("partition_by")),
        dv=_load_dv(fs, table_dir, manifest),
        evo=_evo_of(manifest, res),
    )
    return manifest, df


def overwrite_partitions_publish(
    df: DataFrame,
    table_dir: str,
    partition_col: Optional[str] = None,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
    meta: Optional[dict] = None,
) -> Optional[int]:
    """DYNAMIC partition overwrite — Spark's
    ``partitionOverwriteMode=dynamic`` with snapshot isolation: replace
    exactly the hive partitions PRESENT in ``df``, discovered from the
    frame itself (one distinct on the partition column — O(partitions)
    driver rows), leaving every other partition untouched. The
    scheduled-recompute idiom ("INSERT OVERWRITE yesterday's
    partitions") without naming the partitions by hand; by
    construction ``df`` holds exactly the replaced partitions' rows,
    so :func:`replace_partitions_publish`'s contract is met. Returns
    the committed version, or None for an empty ``df``.

    Same optimistic concurrency as the underlying replace: commits
    rebase over disjoint-partition traffic, raise on a real overlap."""
    from pyspark.sql import functions as F

    fs = _fs_for(table_dir, df.sparkSession)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError(
            "overwrite_partitions_publish: no committed table here "
            "(publish the first snapshot with atomic_publish)"
        )
    parts = manifest.get("partition_by") or []
    if not parts:
        raise ValueError(
            "overwrite_partitions_publish needs a hive-partitioned "
            "table (this one has no partition_by)"
        )
    if len(parts) > 1:
        # replacing by parts[0] on a multi-column layout would drop
        # SIBLING sub-partitions df doesn't carry (df holds (d=5,h=3);
        # replacing all of d=5 erases h!=3) — Spark's dynamic mode
        # replaces exact combos; until the underlying replace is
        # combo-granular, refuse rather than silently lose rows
        raise ValueError(
            "overwrite_partitions_publish supports single-column hive "
            "layouts (this table partitions by %s) — use "
            "replace_where_publish with an exact multi-column "
            "condition instead" % (parts,)
        )
    pc = partition_col or parts[0]
    # hidden partitioning: the physical partition column may be a
    # transform DERIVED from a source column df carries — materialize
    # (idempotent) before discovering the touched partitions
    values = [
        r[0]
        for r in _materialize_partition_cols(
            df, manifest.get("partition_spec")
        ).select(pc).distinct().collect()
    ]
    if any(v is None for v in values):
        # a NULL partition value stringifies to "None", never matching
        # the hive __HIVE_DEFAULT_PARTITION__ path — the old null
        # partition would carry by reference NEXT TO df's new null
        # rows (duplicates). Refuse until null-partition replace is
        # path-exact.
        raise ValueError(
            "overwrite_partitions_publish: df carries NULL values in "
            "partition column %r — null partitions cannot be replaced "
            "dynamically; use replace_where_publish(condition=\"%s is "
            "null\")" % (pc, pc)
        )
    if not values:
        return None
    return replace_partitions_publish(
        df, table_dir, values=values, partition_col=pc,
        lease_ttl_ms=lease_ttl_ms, stats_cols=stats_cols,
        bloom_cols=bloom_cols, _base=manifest,
        operation="overwrite_partitions", meta=meta,
    )


def replace_partitions_publish(
    df: DataFrame,
    table_dir: str,
    values,
    partition_col: Optional[str] = None,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
    _base: Optional[dict] = None,
    operation: str = "replace_partitions",
    meta: Optional[dict] = None,
) -> int:
    """Partial-rewrite snapshot (dynamic partition overwrite with
    snapshot isolation): the next version rewrites ONLY the hive
    partitions whose ``partition_col`` value is in ``values`` — their
    replacement files come from ``df`` (which must hold exactly those
    partitions' new rows), every other partition's files are carried by
    reference. The incremental-refresh primitive: a continuous
    aggregate that touches 2 of 30,000 day-partitions commits 2
    partitions' bytes, not the table.

    Bookkeeping stays exact without any table scan: replaced rows are
    summed from the replaced files' parquet FOOTERS (driver-side
    metadata reads, O(replaced files)), new rows come from the write's
    ``observe``, so ``n_rows = prev - replaced + new``. Readers of any
    version still resolve files only through the manifest; time travel
    keeps the pre-refresh snapshot intact.

    CONCURRENCY (optimistic, disjoint-partition): the rewrite job runs
    with NO lease held; at commit time, if the table moved, the commit
    REBASES onto the newer snapshot iff the touched partitions' live
    file set is unchanged (the concurrent commits were on DISJOINT
    partitions — their file deltas don't intersect ours, so merging is
    exact). A concurrent commit that touched one of OUR partitions
    raises :class:`ConcurrentWriteError` — nothing is silently
    dropped. This is what lets streaming ingest commit concurrently
    with scheduled per-partition maintenance."""
    fs = _fs_for(table_dir, df.sparkSession)
    fs.mkdirs(table_dir)
    # _base: the SNAPSHOT THE CALLER'S REWRITE PLAN READ. Maintenance
    # callers (delete_publish, hypertable_sink)
    # must thread it, or a commit landing between their plan read and
    # this function's own manifest read into a TOUCHED partition would
    # be part of the commit-time baseline — invisible to the
    # disjointness check below, its rows silently dropped by the
    # rewrite (the lost-update window).
    prev = _base if _base is not None else _read_manifest(table_dir, fs)
    if prev is None:
        raise ValueError(
            "replace_partitions_publish needs an existing table "
            "(publish the first snapshot with atomic_publish/"
            "append_publish)"
        )
    parts = prev.get("partition_by") or []
    if not parts:
        raise ValueError(
            "replace_partitions_publish needs a hive-partitioned "
            "table (this one has no partition_by)"
        )
    pc = partition_col or parts[0]
    if pc not in parts:
        raise ValueError(
            "partition_col %r is not in the table layout %s"
            % (pc, parts)
        )
    vals = {str(v) for v in values}

    def _val_of(path: str) -> Optional[str]:
        for seg in path.split("/"):
            if seg.startswith(pc + "="):
                return seg[len(pc) + 1:]
        return None

    # MIXED-LAYOUT guard (partition evolution): a live file whose path
    # lacks the pc= segment predates the current layout — its rows for
    # any partition value are INVISIBLE to path matching, so replacing
    # "the files of partition X" would duplicate (compaction) or keep
    # (delete) those rows. Refuse until compact() rewrites the table
    # under the current layout.
    live = _entry_files(fs, table_dir, prev)
    n_mixed = sum(1 for f in live if _val_of(f) is None)
    if n_mixed:
        raise ValueError(
            "replace_partitions_publish: %d live file(s) predate the "
            "current partition layout (set_partition_layout evolution "
            "pending) — run compact() to rewrite the table under the "
            "new layout before partition-level operations" % n_mixed
        )

    spec = prev.get("partition_spec")
    touched = {f for f in live if _val_of(f) in vals}

    def same_partitions(cur):
        # a concurrent commit that added or removed a file in one of
        # OUR partitions would lose its rows to this rewrite
        if {
            f for f in _entry_files(fs, table_dir, cur) if _val_of(f) in vals
        } != touched:
            raise ConcurrentWriteError(
                "replace_partitions_publish: a concurrent commit changed "
                "partition(s) %s between this rewrite's snapshot and its "
                "commit — merging would drop those rows; re-run against "
                "the new snapshot" % sorted(vals)
            )

    return _replace_publish(
        _pt_rebalance(_materialize_partition_cols(df, spec), parts),
        fs, table_dir, prev, touched, "replace_partitions_publish",
        lease_ttl_ms, stats_cols, bloom_cols, operation, meta,
        same_partitions,
    )


def _replace_publish(
    df, fs, table_dir, prev, replace_set, who, lease_ttl_ms, stats_cols,
    bloom_cols, operation, meta=None, still_valid=None,
) -> int:
    """The copy-on-write commit shared by the partition and file
    replaces: stage ``df`` (already laid out for the write), then
    commit ``prev``'s snapshot minus ``replace_set`` plus the new files.
    Replaced rows are counted from parquet FOOTERS less their delete
    vectors, never by a scan. Rebase: every replaced file must still be
    live with its delete vector unchanged (plus the caller's
    ``still_valid``) — a concurrent dv-delete on a replaced file would
    otherwise be resurrected by a rewrite planned from the old mask."""
    with _StagedCommit(fs, table_dir, prev, who, lease_ttl_ms) as st:
        st.write(df, prev.get("partition_by") or [])
        st.stage(
            prev["schema"], _field_ids_of(prev)[0], stats_cols, bloom_cols
        )

        def valid(cur):
            if still_valid is not None:
                still_valid(cur)
            _check_addressed(fs, table_dir, prev, cur, replace_set, who)

        def entry_of(base):
            entry = st.entry(base, operation, meta)
            res = _resolve_entry(fs, table_dir, base)
            base_dv = _load_dv(fs, table_dir, base)
            replaced = [f for f in res["files"] if f in replace_set]
            entry["n_rows"] -= sum(
                fs.file_rows(_ref_path(fs, table_dir, f))
                - _dv_val_n(base_dv.get(f))
                for f in replaced
            )
            entry["n_files"] -= len(replaced)
            entry["size_bytes"] -= sum(
                res["file_sizes"].get(f)
                or fs.file_size(_ref_path(fs, table_dir, f))
                for f in replaced
            )
            # prune segments whose files are now ALL removed: keeps
            # 'removed' bounded by the files replaced since the last
            # fold, not the table's lifetime
            entry["segments"], entry["removed"] = _prune_segments(
                fs, table_dir, entry["segments"],
                sorted(set(entry["removed"]) | replace_set),
            )
            entry.update(
                _carry_dv(fs, table_dir, base, st.seg,
                          set(res["files"]) - replace_set)
            )
            return entry

        return st.commit(entry_of, valid)


def _prune_segments(fs, table_dir: str, segs, removed):
    """Drop segments with no live files left; shrink ``removed`` to
    entries still shadowing a listed segment's file."""
    removed_set = set(removed)
    kept_segs: List[str] = []
    live_removed: set = set()
    for seg in segs:
        s = _load_seg(fs, table_dir, seg)
        fl = s.get("files", [])
        dead = [f for f in fl if f in removed_set]
        if len(dead) == len(fl):
            continue  # fully shadowed: segment leaves the snapshot
        kept_segs.append(seg)
        live_removed.update(dead)
    return kept_segs, sorted(live_removed)


def _select_snapshot(
    manifest: dict,
    version: Optional[int] = None,
    as_of_ms: Optional[int] = None,
):
    """``(version, entry)`` for a manifest's committed snapshot (the
    default), an explicit retained ``version``, or the newest retained
    snapshot committed at-or-before ``as_of_ms`` (TIMESTAMP AS OF;
    accepts a ``datetime``). Raises KeyError when the requested state
    is not retained."""
    if as_of_ms is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ms, not both")
        if hasattr(as_of_ms, "timestamp"):  # datetime convenience
            as_of_ms = int(as_of_ms.timestamp() * 1000)
        eligible = [
            int(v)
            for v, e in manifest.get("snapshots", {}).items()
            if e.get("committed_at_ms") is not None
            and int(e["committed_at_ms"]) <= int(as_of_ms)
        ]
        if not eligible:
            raise KeyError(
                "no retained snapshot committed at or before %d ms "
                "(oldest retained: %s)"
                % (
                    int(as_of_ms),
                    min(
                        (
                            int(e["committed_at_ms"])
                            for e in manifest.get(
                                "snapshots", {}
                            ).values()
                            if e.get("committed_at_ms") is not None
                        ),
                        default=None,
                    ),
                )
            )
        version = max(eligible)
    if version is None or int(version) == int(manifest["version"]):
        return int(manifest["version"]), manifest
    snaps = manifest.get("snapshots", {})
    if str(version) not in snaps:
        raise KeyError(
            "version %s is not a retained snapshot (have: %s)"
            % (version, sorted(int(v) for v in snaps))
        )
    return int(version), snaps[str(version)]


def read_published(
    spark: SparkSession,
    table_dir: str,
    version: Optional[int] = None,
    skip: Optional[dict] = None,
    skip_eq: Optional[dict] = None,
    as_of_ms: Optional[int] = None,
) -> DataFrame:
    """Read exactly the committed snapshot's manifest-listed files —
    the latest by default, or any retained ``version`` (time travel).
    Raises KeyError for a version never committed or already vacuumed.

    ``as_of_ms`` is TIMESTAMP time travel (``TIMESTAMP AS OF``): read
    the newest retained snapshot whose commit wall-clock is <= the
    given epoch-milliseconds (also accepts a ``datetime``). Raises
    KeyError when every retained snapshot is newer — the state at that
    time is unknowable (never committed, or vacuumed away). Mutually
    exclusive with ``version``. Commit timestamps are the WRITER's
    clock (one writer commits at a time under the manifest swap, so
    retained history is monotone in practice, but skewed clocks make
    "as of" approximate exactly as in Delta/Iceberg).

    ``skip`` = ``{col: (lo, hi)}`` applies FILE-LEVEL data skipping
    against the manifest's recorded per-file statistics (``stats_cols=``
    at publish, or the table's ``index_cols``): only files whose
    [min, max] for every listed column intersects the bound are
    opened. Conservative by
    construction — a file without recorded stats is always read — so
    the caller still applies the row filter; skipping only shrinks the
    file list (on a z-ordered snapshot, drastically).

    ``skip_eq`` = ``{col: value}`` prunes for POINT predicates
    (``col = value``): a file is skipped when its recorded bloom
    filter (``bloom_cols=`` at publish, or the table's ``index_cols``)
    proves the value absent, or its min/max range excludes it.
    min/max alone can't prune equality on
    unclustered data — the bloom is what turns ``user_id = X`` on a
    100 TB table into a few file opens. Same conservative rule: no
    bloom and no stats → the file is read."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("no committed table at %s" % table_dir)
    _, entry = _select_snapshot(manifest, version, as_of_ms)
    res = _resolve_entry(fs, table_dir, entry)
    files = res["files"]
    if skip:
        stats = res["file_stats"]

        def _keep(f: str) -> bool:
            st = stats.get(f)
            if not st:
                return True  # no stats: never skip blindly
            for col, bound in skip.items():
                mm = st.get(col)
                if mm is None:
                    continue
                mn, mx = mm
                lo, hi = bound
                try:
                    if (hi is not None and mn > hi) or (
                        lo is not None and mx < lo
                    ):
                        return False
                except TypeError:
                    # incomparable types (e.g. a date bound against
                    # ISO-string stats): stay conservative, read it
                    continue
            return True

        files = [f for f in files if _keep(f)]
    if skip_eq:
        files = _prune_eq(res, files, skip_eq)
    if (skip or skip_eq) and entry.get("partition_by"):
        # HIDDEN-PARTITIONING pruning: a bound/point predicate on a
        # transform SOURCE column ("ts between …" on a days(ts) table,
        # "id = X" on a bucket(N, id) table) prunes whole partition
        # DIRECTORIES from the manifest list — the user never names the
        # physical ts_day/id_bucket column. Identity partition columns
        # prune by path value the same way (exact, even without stats).
        files = _pt_prune_files(
            files, entry.get("partition_spec"),
            entry.get("partition_by"), skip, skip_eq, spark,
        )
    return _read_files(
        spark,
        fs,
        table_dir,
        files,
        entry["schema"],
        bool(entry.get("partition_by")),
        dv=_load_dv(fs, table_dir, entry),
        evo=_evo_of(entry, res),
    )


def _prune_eq(res: dict, files, skip_eq: dict):
    """Files that may contain rows matching every ``col = value``
    predicate, judged by per-file blooms and min/max stats
    (conservative: an unindexed file always survives)."""
    stats, blooms = res["file_stats"], res["file_blooms"]

    def _keep(f: str) -> bool:
        for col, value in skip_eq.items():
            bl = (blooms.get(f) or {}).get(col)
            if bl and not _bloom_might_contain(bl, value):
                return False
            mm = (stats.get(f) or {}).get(col)
            if mm is not None:
                mn, mx = mm
                try:
                    if value < mn or value > mx:
                        return False
                except TypeError:
                    pass  # incomparable types: stay conservative
        return True

    return [f for f in files if _keep(f)]


def _read_files(
    spark: SparkSession,
    fs,
    table_dir: str,
    files,
    schema_json: str,
    partitioned: bool,
    dv: Optional[dict] = None,
    evo: Optional[dict] = None,
) -> DataFrame:
    """Read an explicit manifest-relative file list with the PUBLISHED
    schema. The manifest schema governs the read (after a schema-merge
    append, files written before the widening read the added columns as
    null), and for hive-partitioned snapshots — whose files can span
    SEVERAL version dirs — each dir anchors its own basePath so the
    col=val partition attributes keep the writer's types (no inference,
    pruning predicates still hit the file index).

    ``dv`` = the snapshot's delete-vector manifest (see
    :func:`_load_dv`): files carrying a vector are read through the
    masked row-address read (:func:`_read_files_with_pos`) and their
    deleted rows dropped (merge-on-read); files without vectors —
    almost all of a 100 TB table — take the plain scan path with zero
    overhead."""
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(schema_json))
    if not files:
        return _local_df(spark, [], schema)
    dv = {f: ps for f, ps in (dv or {}).items() if f in set(files) and ps}
    clean = [f for f in files if f not in dv]

    def _ordered(df: DataFrame) -> DataFrame:
        # Spark appends path-derived partition columns LAST even under
        # an explicit schema; a rewrite publishing that frame would
        # silently reorder the table schema (caught by the partition-
        # evolution tests). Published reads always return MANIFEST
        # schema order.
        names = [f.name for f in schema.fields]
        return df if df.columns == names else df.select(*names)

    out = (
        _scan_groups(
            spark, fs, table_dir, clean, schema, partitioned, evo,
            with_pos=False,
        )
        if clean
        else None
    )
    if dv:
        # metadata columns resolve only on the scan relation itself
        # (not across a union), so the masked files read separately
        kept = _read_files_with_pos(
            spark, fs, table_dir, sorted(dv), schema_json, partitioned,
            evo=evo, dv=dv,
        ).drop("_fp", "_ri")
        out = kept if out is None else out.unionByName(kept)
    return _ordered(out)


def _read_files_with_pos(
    spark: SparkSession,
    fs,
    table_dir: str,
    files,
    schema_json: str,
    partitioned: bool,
    evo: Optional[dict] = None,
    dv: Optional[dict] = None,
) -> DataFrame:
    """Scan of a manifest-relative file list with the parquet
    ``_metadata`` projected to ``_fp`` (file URI) and ``_ri`` (row
    position in file) — the row-address read behind every row-level
    writer and the masked half of :func:`_read_files`. Metadata columns
    must be selected per scan relation (they don't survive a union),
    hence the dedicated helper.

    ``dv`` = the snapshot's delete-vector manifest: rows it deletes
    never come back. Only the scanned files that carry a vector join
    the mask — the CHUNK-NATIVE :func:`_dv_mask` against their bitmap
    chunk rows read as stored (:func:`_dv_chunks_df`), so a
    billion-position vector joins as ~1M chunk rows, broadcastable,
    instead of a billion-row explode. No ``dv``: a plain unmasked
    scan."""
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(schema_json))
    out = _scan_groups(
        spark, fs, table_dir, list(files), schema, partitioned, evo,
        with_pos=True,
    )
    scanned = set(files)
    dv = {f: v for f, v in (dv or {}).items() if f in scanned and v}
    if dv:
        out = _dv_mask(
            out, "_fp", "_ri", _dv_chunks_df(spark, fs, table_dir, dv)
        )
    return out


def _evo_of(entry: dict, res: dict) -> Optional[dict]:
    """The ``evo`` read descriptor for a snapshot entry (None unless a
    rename/drop ever committed — the common case pays nothing)."""
    if not entry.get("schema_evolved"):
        return None
    ids, _ = _field_ids_of(entry)
    return {"ids": ids, "files": res.get("file_fields") or {}}


def _evo_select(schema, fm: dict, ids: dict):
    """``(read_schema, select_cols)`` for one file-map subgroup of an
    EVOLVED table: each logical field reads from the physical name its
    files were written with (by field id) and aliases back; a field
    whose id is absent from the map was added AFTER those files were
    written — it reads as NULL even if a same-named physical column
    exists (a retired-then-readded name must never resurrect old
    bytes)."""
    from pyspark.sql import functions as F, types as T

    read_fields, sel = [], []
    for f in schema.fields:
        sid = str(ids.get(f.name, ""))
        phys = fm.get(sid)
        if phys is None:
            sel.append(F.lit(None).cast(f.dataType).alias(f.name))
            continue
        read_fields.append(T.StructField(phys, f.dataType, True))
        sel.append(
            F.col(phys).alias(f.name) if phys != f.name else F.col(f.name)
        )
    return T.StructType(read_fields), sel


def _scan_groups(
    spark: SparkSession,
    fs,
    table_dir: str,
    files,
    schema,
    partitioned: bool,
    evo: Optional[dict],
    with_pos: bool,
) -> DataFrame:
    """The shared grouped parquet scan behind ``_read_files`` /
    ``_read_files_with_pos``: files group by their basePath anchor
    (hive snapshots span version dirs; external clone refs anchor at
    the source) and, on schema-EVOLVED tables, by their field map —
    each subgroup reads under its own physical schema and aliases back
    to the manifest's logical names (``evo`` = ``{"ids": {logical:
    id}, "files": {file: {id: phys}}}``)."""
    from pyspark.sql import functions as F

    ids = (evo or {}).get("ids") or {}
    fmaps = (evo or {}).get("files") or {}
    groups: dict = {}
    for f in files:
        base = _ref_group(fs, table_dir, f) if partitioned else ""
        mk = tuple(sorted(fmaps[f].items())) if evo else None
        groups.setdefault((base, mk), []).append(f)
    out = None
    for base, mk in sorted(groups, key=lambda k: (k[0], k[1] or ())):
        fl = groups[(base, mk)]
        rschema, sel = (
            _evo_select(schema, dict(mk), ids) if evo else (schema, None)
        )
        reader = spark.read.schema(rschema)
        if partitioned:
            reader = reader.option("basePath", base)
        df = reader.parquet(*[_ref_path(fs, table_dir, f) for f in fl])
        # normalize to the group's schema columns: a HIDDEN partition
        # column (days(ts)-style transform) appears in the paths but
        # not in the logical schema — Spark appends it, and groups from
        # different layout eras would append DIFFERENT extras, breaking
        # the unionByName. Select the schema names per group (path-
        # resolved identity columns survive; derived ones drop here).
        names = [f.name for f in rschema.fields]
        if with_pos:
            pos = [
                F.col("_metadata.file_path").alias("_fp"),
                F.col("_metadata.row_index").alias("_ri"),
            ]
            df = (
                df.select(*(sel + pos))
                if sel is not None
                else df.select(*names, *pos)
            )
        elif sel is not None:
            df = df.select(*sel)
        elif df.columns != names:
            df = df.select(*names)
        out = df if out is None else out.unionByName(df)
    return out


def set_partition_layout(
    table_dir: str,
    partition_by,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """PARTITION EVOLUTION, metadata-only (Iceberg's spec evolution
    reduced to the hive case): commit a new snapshot with a NEW
    ``partition_by`` while every existing file carries by reference —
    zero data movement at any table size. Files written BEFORE the
    change keep their old path layout; files written AFTER land under
    the new one. Plain reads are unaffected: ``_read_files`` anchors
    each version dir on its own basePath and applies the manifest
    schema, so every column resolves from the file's data pages or its
    own path, whichever side of the evolution it was written on.

    The sharp edge is PARTITION-LEVEL maintenance: on a mixed-layout
    table, "the files of partition d=X" no longer identifies all of
    d=X's ROWS (old files hold them as data, invisible to path
    matching), so ``replace_partitions_publish`` — and everything on
    it: partitioned ``delete_publish`` — REFUSE
    mixed tables (a silent fold would duplicate or half-delete rows).
    ``compact()`` rewrites the whole table under the new layout and
    re-enables them; until then appends, file-granular deletes,
    delete vectors, merges, time travel and incremental reads all work.

    Every new partition column must already be a table column (it IS a
    data column in the pre-evolution files). The new layout must be
    non-empty — evolving to unpartitioned is ``compact()`` territory
    (old dirs would still carry path-only columns that an
    unpartitioned read can't resolve)."""
    fs = _fs_for(table_dir, spark)
    raw = (
        [partition_by]
        if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    if not raw:
        raise ValueError(
            "set_partition_layout: the new layout must be non-empty "
            "(rewrite via compact() to go unpartitioned)"
        )
    with _Lease(fs, table_dir, ttl_ms=lease_ttl_ms).acquire_wait(
        wait_ms=_COMMIT_WAIT_MS
    ) as lease:
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            raise ValueError("set_partition_layout: no committed table")
        # transform syntax allowed ("days(ts)", "bucket(16, id)", …):
        # the parse validates every SOURCE is a table column and every
        # derived name is collision-free (identity entries keep the
        # old must-be-a-data-column contract)
        parts, spec = _parse_partition_by(raw, manifest["schema"])
        if parts == (manifest.get("partition_by") or []) and (
            spec or None
        ) == (manifest.get("partition_spec") or None):
            return int(manifest["version"])  # no-op: already this layout
        segs, removed = _segments_of(fs, table_dir, manifest)
        entry = {
            "segments": segs,
            "removed": removed,
            "n_rows": int(manifest["n_rows"]),
            "n_files": manifest["n_files"],
            "size_bytes": manifest["size_bytes"],
            "schema": manifest["schema"],
            "partition_by": parts,
            "operation": "set_partition_layout",
        }
        if spec:
            entry["partition_spec"] = spec
        if manifest.get("dv"):
            entry["dv"] = manifest["dv"]
            entry["dv_rows"] = manifest.get("dv_rows")
        version = int(manifest["version"]) + 1
        _commit(fs, table_dir, manifest, version, entry, lease=lease)
        return version


def _evolve_schema(
    table_dir: str,
    spark,
    lease_ttl_ms: int,
    mutate,
    operation: str,
) -> int:
    """Shared commit shape for metadata-only schema evolution
    (rename/drop): apply ``mutate(schema_struct, fids, retired)`` →
    (new_struct, new_fids, newly_retired[, overrides]), and commit a
    snapshot that re-cites every segment by reference with the new
    logical schema. Zero data IO. The commit lease is WAITED for, like
    :func:`_metadata_commit`'s."""
    from pyspark.sql import types as T

    fs = _fs_for(table_dir, spark)
    with _Lease(fs, table_dir, ttl_ms=lease_ttl_ms).acquire_wait(
        wait_ms=_COMMIT_WAIT_MS
    ) as lease:
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            raise ValueError("%s: no committed table here" % operation)
        st = T.StructType.fromJson(json.loads(manifest["schema"]))
        fids, nxt = _field_ids_of(manifest)
        retired = set(manifest.get("retired_names") or [])
        out = mutate(st, fids, retired)
        # a mutate may evolve layout metadata too: an optional 4th
        # element is a dict of entry overrides ({"partition_by",
        # "partition_spec", "index_cols"} — renaming a partition column
        # / transform source / indexed column rides the same commit)
        new_st, fids, newly_retired = out[:3]
        overrides = dict(out[3]) if len(out) == 4 else {}
        new_parts = overrides.pop("partition_by", None)
        segs, removed = _segments_of(fs, table_dir, manifest)
        entry = {
            "segments": segs,
            "removed": removed,
            "n_rows": int(manifest["n_rows"]),
            "n_files": manifest["n_files"],
            "size_bytes": manifest["size_bytes"],
            "schema": new_st.json(),
            "partition_by": (
                new_parts
                if new_parts is not None
                else manifest.get("partition_by") or []
            ),
            "operation": operation,
            "field_ids": fids,
            "next_field_id": nxt,
            "schema_evolved": True,
            "retired_names": sorted(retired | set(newly_retired)),
            "data_change": False,
        }
        if "partition_spec" in overrides:
            if overrides["partition_spec"]:
                entry["partition_spec"] = overrides["partition_spec"]
        elif manifest.get("partition_spec"):
            entry["partition_spec"] = manifest["partition_spec"]
        if "index_cols" in overrides:
            entry["index_cols"] = overrides["index_cols"]
        if manifest.get("dv"):
            entry["dv"] = manifest["dv"]
            entry["dv_rows"] = manifest.get("dv_rows")
        version = int(manifest["version"]) + 1
        _commit(fs, table_dir, manifest, version, entry, lease=lease)
        return version


def rename_column(
    table_dir: str,
    old: str,
    new: str,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """METADATA-ONLY column rename (Iceberg-style, by field ID): the
    commit rewrites the manifest's logical schema and nothing else —
    no data file is touched at any table size. Readers resolve each
    segment's files under the PHYSICAL name they were written with
    (the field map stamped in its sidecar) and alias to the new
    logical name; per-file stats/bloom indexes rekey the same way, so
    ``skip={new_name: ...}`` prunes files written under the old name.
    Appends after the rename must use the new name (strict schema
    check); a writer racing the rename gets a ConcurrentWriteError
    (schema changes never rebase).

    Renaming a hive PARTITION column evolves the partition spec
    per-segment (Iceberg spec-evolution reduced to the hive case):
    files written before the rename keep their old ``old=val`` path
    layout and resolve the value under that physical key (the same
    field-id machinery that resolves renamed DATA columns), new writes
    land under ``new=val``, and plain reads, dv deletes, merges and
    incremental reads span both eras. Partition-LEVEL maintenance
    (``replace_partitions_publish``/partitioned
    deletes) refuses the mixed layout until ``compact()`` rewrites the
    table under the new spec — the same contract as
    ``set_partition_layout``.

    Guard: the old name is retired FOREVER (re-adding it would
    resurrect old bytes)."""
    def mutate(st, fids, retired):
        from pyspark.sql import types as T

        names = [f.name for f in st.fields]
        if old not in names:
            raise KeyError("rename_column: no column %r" % old)
        if new in names:
            raise ValueError(
                "rename_column: column %r already exists" % new
            )
        if new in retired:
            raise ValueError(
                "rename_column: %r was dropped or renamed away earlier "
                "— reusing the name would resurrect old bytes; pick "
                "another" % new
            )
        fs_ = _fs_for(table_dir, spark)
        man = _read_manifest(table_dir, fs_)
        new_st = T.StructType(
            [
                T.StructField(
                    new if f.name == old else f.name,
                    f.dataType,
                    f.nullable,
                    f.metadata,
                )
                for f in st.fields
            ]
        )
        fids = dict(fids)
        fids[new] = fids.pop(old)
        parts = man.get("partition_by") or []
        overrides: dict = {}
        if old in parts:
            # PARTITION-SPEC EVOLUTION (per-segment specs): the logical
            # spec renames with the column; each file keeps resolving
            # its partition value under the PHYSICAL path key its
            # segment was written with (the same field-id map that
            # resolves data columns), and new writes land under the new
            # key. Partition-LEVEL maintenance (replace/compact/delete
            # by partition) stays refused on the mixed table by the
            # existing path guard until compact() unifies the layout.
            parts = [new if p == old else p for p in parts]
        overrides["partition_by"] = parts
        pspec = man.get("partition_spec")
        if pspec:
            # hidden-partitioning spec follows the rename: transform
            # SOURCES rekey to the new logical name while the DERIVED
            # physical name keeps its paths (no layout mixing); an
            # identity entry renames both sides (per-segment path
            # evolution, same contract as the parts rename above)
            pspec = [
                {
                    **t,
                    "source": new if t["source"] == old else t["source"],
                    "name": (
                        new
                        if t["transform"] == "identity" and t["name"] == old
                        else t["name"]
                    ),
                }
                for t in pspec
            ]
            overrides["partition_spec"] = pspec
        idx = man.get("index_cols")
        if idx and (
            old in (idx.get("stats") or []) or old in (idx.get("bloom") or [])
        ):
            # the PERSISTED INDEX SPEC follows the rename in the same
            # commit — without this the renamed column silently stops
            # being indexed at the next write (stats/bloom defaulting
            # resolves by name) and the table's point-lookup SLA
            # quietly degrades
            overrides["index_cols"] = {
                "stats": [
                    new if c == old else c for c in (idx.get("stats") or [])
                ],
                "bloom": [
                    new if c == old else c for c in (idx.get("bloom") or [])
                ],
            }
        return new_st, fids, {old}, overrides

    return _evolve_schema(
        table_dir, spark, lease_ttl_ms, mutate, "rename_column"
    )


def drop_column(
    table_dir: str,
    col: str,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """METADATA-ONLY column drop: the commit removes the column from
    the logical schema; the bytes stay in the files (pruned at scan —
    parquet never reads an unrequested column) until the next rewrite
    physically sheds them. The name is retired forever — a later
    schema-merge append re-introducing it is refused (it would
    resurrect the old bytes); add the data
    back under a new name. Dropping a hive partition column is refused
    (use set_partition_layout). Zero data IO at any table size."""
    def mutate(st, fids, retired):
        from pyspark.sql import types as T

        names = [f.name for f in st.fields]
        if col not in names:
            raise KeyError("drop_column: no column %r" % col)
        if len(names) == 1:
            raise ValueError("drop_column: cannot drop the last column")
        fs_ = _fs_for(table_dir, spark)
        man = _read_manifest(table_dir, fs_)
        if col in (man.get("partition_by") or []):
            raise ValueError(
                "drop_column: %r is a hive partition column — "
                "set_partition_layout first" % col
            )
        srcs = {
            t["source"]
            for t in man.get("partition_spec") or []
            if t["transform"] != "identity"
        }
        if col in srcs:
            raise ValueError(
                "drop_column: %r is the source of a partition "
                "transform — set_partition_layout first" % col
            )
        new_st = T.StructType([f for f in st.fields if f.name != col])
        fids = {k: v for k, v in fids.items() if k != col}
        return new_st, fids, {col}

    return _evolve_schema(
        table_dir, spark, lease_ttl_ms, mutate, "drop_column"
    )


def widen_column(
    table_dir: str,
    col: str,
    new_type,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """METADATA-ONLY type widening (Delta's type-widening feature):
    commit a new snapshot whose schema gives ``col`` a WIDER primitive
    type from the supported set (byte→short→int→long, float→double,
    byte/short/int→double — :func:`_can_widen`). Zero data IO at any
    table size: files written narrow read natively upcast under the
    widened schema (Spark's parquet reader performs the promotion),
    and writes after the commit must land wide (the same strict schema
    check as any publish). Field ids are untouched — widening never
    changes a column's identity — so rename/drop histories,
    incremental reads and the change feed compose unchanged; per-file
    stats/bloom indexes stay valid (min/max compare numerically,
    bloom canonical forms are width-independent —
    :func:`_bloom_canon_py`). Earlier snapshots keep their narrow
    schema: time travel reads each version under its own types.

    ``new_type`` is a Spark DataType or a type string ("long",
    "double"). Widening a hive partition column is allowed — its
    path-string values cast to the declared type at scan."""
    from pyspark.sql import types as T

    if spark is None:
        spark = SparkSession.getActiveSession()
    dt = (
        new_type
        if isinstance(new_type, T.DataType)
        else T._parse_datatype_string(str(new_type))
    )
    jt = dt.jsonValue()

    def _mutate(fresh: dict) -> dict:
        fields = json.loads(fresh["schema"])["fields"]
        by_name = {f["name"]: f for f in fields}
        if col not in by_name:
            raise KeyError("widen_column: no column %r" % col)
        old_t = by_name[col]["type"]
        if old_t == jt:
            raise ValueError(
                "widen_column: %r is already %s" % (col, jt)
            )
        if not _can_widen(old_t, jt):
            raise ValueError(
                "widen_column: %s → %s is not a supported widening "
                "(byte→short→int→long, float→double, int→double); "
                "other type changes require a rewrite under a new "
                "column name" % (old_t, jt)
            )
        for t in fresh.get("partition_spec") or []:
            # xxhash64 is TYPE-SENSITIVE (hash(int 7) != hash(long 7)):
            # widening a bucket source would send the same logical value
            # to a different bucket than the existing paths, silently
            # breaking point-lookup pruning and partition placement
            if t["transform"] == "bucket" and t["source"] == col:
                raise ValueError(
                    "widen_column: %r is the source of a bucket "
                    "partition transform — the bucket hash is type-"
                    "sensitive, so widening would misplace future "
                    "rows; set_partition_layout to a new spec first"
                    % col
                )
        new_fields = [
            {**f, "type": jt} if f["name"] == col else f
            for f in fields
        ]
        out = {
            "schema": json.dumps(
                {"type": "struct", "fields": new_fields}
            )
        }
        pspec = fresh.get("partition_spec")
        if pspec and any(t["source"] == col for t in pspec):
            # keep the spec's pinned source_type truthful (truncate's
            # string-vs-numeric branch and identity range pruning key
            # off it); bucket sources were refused above
            out["partition_spec"] = [
                {**t, "source_type": jt} if t["source"] == col else t
                for t in pspec
            ]
        return out

    return _metadata_commit(
        table_dir, spark, lease_ttl_ms, "widen_column", _mutate
    )


def _metadata_commit(
    table_dir: str,
    spark,
    lease_ttl_ms: int,
    operation: str,
    mutate,
) -> int:
    """Commit a PURE-METADATA snapshot: every segment carried by
    reference, counters unchanged. ``mutate(manifest) -> extra`` runs
    INSIDE the commit lease against the freshly re-read manifest —
    single-key mutations of shared dicts (the index columns) apply to
    the state another writer may have just committed, instead of
    last-writer-winning a dict computed from a stale read. The lease is
    WAITED for (these commits are milliseconds): concurrent metadata
    ops queue and compose rather than raising."""
    fs = _fs_for(table_dir, spark)
    lease = _Lease(fs, table_dir, ttl_ms=lease_ttl_ms).acquire_wait(
        wait_ms=_COMMIT_WAIT_MS
    )
    try:
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            raise ValueError("%s: no committed table here" % operation)
        extra = mutate(manifest)
        segs, removed = _segments_of(fs, table_dir, manifest)
        entry = {
            "segments": segs,
            "removed": removed,
            "n_rows": int(manifest["n_rows"]),
            "n_files": manifest["n_files"],
            "size_bytes": manifest["size_bytes"],
            "schema": manifest["schema"],
            "partition_by": manifest.get("partition_by") or [],
            "operation": operation,
            "data_change": False,
            **(
                {"partition_spec": manifest["partition_spec"]}
                if manifest.get("partition_spec")
                else {}
            ),
            **extra,
        }
        if manifest.get("dv"):
            entry["dv"] = manifest["dv"]
            entry["dv_rows"] = manifest.get("dv_rows")
        version = int(manifest["version"]) + 1
        _commit(fs, table_dir, manifest, version, entry, lease=lease)
        return version
    finally:
        lease.release()


def set_index_columns(
    table_dir: str,
    stats_cols=None,
    bloom_cols=None,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """Persist the table's INDEX SPEC — the columns every subsequent
    write of ANY flavor (append, merge, update, replaceWhere, compact)
    records per-file min/max stats and equality
    blooms for, without each caller passing ``stats_cols``/
    ``bloom_cols`` (Delta's dataSkippingStatsColumns as a table
    property). One forgotten arg on a micro-batch ingest means
    unindexed files and degraded point lookups forever — the spec
    makes write-time indexing a TABLE property, not a caller habit.
    ``None`` leaves a side unchanged; ``[]`` clears it. Explicit args
    on a write still override for that write. Columns must exist in
    the current schema; after a rename/drop, defaulted columns no
    longer present simply stop indexing (writes never break).

    Metadata-only commit; :func:`compact` afterwards rewrites the
    files written before the spec, so every live file is indexed."""
    if spark is None:
        spark = SparkSession.getActiveSession()
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("set_index_columns: no committed table here")
    names = {
        f["name"] for f in json.loads(manifest["schema"])["fields"]
    }
    for side, cols in (("stats_cols", stats_cols), ("bloom_cols", bloom_cols)):
        unknown = sorted(set(cols or []) - names)
        if unknown:
            raise ValueError(
                "set_index_columns: %s names unknown column(s) %s "
                "(schema: %s)" % (side, unknown, sorted(names))
            )

    def _mutate(fresh: dict) -> dict:
        cur = dict(fresh.get("index_cols") or {})
        if stats_cols is not None:
            cur["stats"] = list(stats_cols)
        if bloom_cols is not None:
            cur["bloom"] = list(bloom_cols)
        return {"index_cols": cur}

    return _metadata_commit(
        table_dir, spark, lease_ttl_ms, "set_index_columns", _mutate
    )


def clone_table(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    version: Optional[int] = None,
    as_of_ms: Optional[int] = None,
) -> int:
    """SHALLOW CLONE: fork ``src_dir``'s committed snapshot (or any
    retained ``version`` / ``as_of_ms`` state) into a NEW table at
    ``dst_dir`` by metadata alone — the clone's first manifest re-cites
    the source's data files as EXTERNAL absolute refs; zero data bytes
    move at any table size (Delta Lake's shallow clone). The clone is
    a fully independent table from the first commit: appends, deletes,
    merges, compaction, and time travel all work, and every write
    lands under ``dst_dir`` — the source is never touched. Cloning a
    100 TB table for an experiment or a dev fork costs one manifest
    write.

    What copies at clone time (all metadata-sized): the snapshot's
    per-file sizes / min-max stats / equality blooms (so ``skip=`` /
    ``skip_eq=`` pruning works on the clone unchanged) and its delete
    vectors (rewritten against the external refs).

    CONTRACT (same as Delta): the clone PINS the source files of one
    snapshot — ``vacuum`` on the SOURCE that expires that snapshot
    deletes files the clone still references and breaks it. Keep the
    cloned snapshot retained at the source, or ``compact()`` the clone
    (any full rewrite) to cut the dependency — clone-then-compact is a
    deep copy. ``vacuum`` on the CLONE never deletes source files
    (external refs resolve outside its directory by construction).

    ``dst_dir`` must not already hold a table — cloning never
    overwrites history. Returns the clone's version (always 1)."""
    src_fs = _fs_for(src_dir, spark)
    src_manifest = _read_manifest(src_dir, src_fs)
    if src_manifest is None:
        raise ValueError("clone_table: no committed table at %s" % src_dir)
    src_v, entry = _select_snapshot(src_manifest, version, as_of_ms)
    res = _resolve_entry(src_fs, src_dir, entry, rekey_stats=False)
    abs_of = {f: _ref_path(src_fs, src_dir, f) for f in res["files"]}
    seg_data = {
        "files": [abs_of[f] for f in res["files"]],
        **{
            k: {abs_of[f]: v for f, v in res[k].items() if f in abs_of}
            for k in ("file_sizes", "file_stats", "file_blooms")
        },
    }
    if res.get("file_fields"):
        # files from MANY source segments land in ONE clone segment —
        # per-FILE maps, not a segment-level one
        seg_data["file_fields"] = {
            abs_of[f]: m
            for f, m in res["file_fields"].items()
            if f in abs_of
        }
    new_entry = {
        "removed": [],
        "n_rows": int(entry["n_rows"]),
        "n_files": entry["n_files"],
        "size_bytes": entry["size_bytes"],
        "schema": entry["schema"],
        "partition_by": entry.get("partition_by") or [],
        "operation": "clone",
        "meta": {"cloned_from": src_dir, "cloned_version": int(src_v)},
    }
    # schema-evolution state forks with the snapshot: the clone's reads
    # resolve renamed/dropped columns exactly as the source's. Layout
    # (partition_spec) and the index spec (index_cols — Delta CLONE
    # copies table properties) ride along.
    for k in (
        "field_ids", "next_field_id", "schema_evolved", "retired_names",
        "index_cols", "partition_spec",
    ):
        if entry.get(k) is not None:
            new_entry[k] = entry[k]
    live = set(res["files"])
    dv = {}
    for f, v in _load_dv(src_fs, src_dir, entry).items():
        if f not in live or not _dv_val_n(v):
            continue
        # externalize the sidecar dataset path (zero copy, like the
        # data refs) and pin the SIDECAR's own file key — its rows were
        # written under the source's ref, which the clone's scan URIs
        # still suffix-match
        dv[abs_of[f]] = {
            **v,
            "ds": _ref_path(src_fs, src_dir, v["ds"]),
            "key": v.get("key", f),
        }
    fs = _fs_for(dst_dir, spark)
    fs.mkdirs(dst_dir)
    with _Lease(fs, dst_dir, ttl_ms=300_000) as lease:
        if _read_manifest(dst_dir, fs) is not None:
            raise ValueError(
                "clone_table: %s already holds a table — refusing to "
                "overwrite its history" % dst_dir
            )
        with _StagedCommit(
            fs, dst_dir, None, "clone_table", lease=lease
        ) as st:
            _write_seg(fs, dst_dir, st.seg, seg_data)
            new_entry["segments"] = [st.seg]
            if dv:
                new_entry["dv"] = _write_dv(fs, dst_dir, st.seg, dv)
                new_entry["dv_rows"] = _dv_nrows(dv)
            return st.commit(lambda base: new_entry)


def read_appends(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: Optional[int] = None,
    ignore_deletes: bool = False,
) -> DataFrame:
    """Incremental change read: the rows APPENDED between two committed
    versions — the poll-based streaming-source primitive (a downstream
    pipeline remembers the last version it processed and reads only the
    delta; Delta Lake's streaming source, reduced to its append core).

    With a segmented manifest this is exact metadata algebra: appended
    rows = the files in ``to``'s segments that are not in ``from``'s
    live set. Compaction versions re-cite existing ROWS in new
    files; their rewritten files are excluded when the snapshot's
    counters show no row growth (pure-rewrite commits contribute
    nothing). Raises if ``from_version`` is no longer retained —
    vacuumed history means the delta can't be proven append-only.

    ``ignore_deletes=True`` (Delta's option of the same name): versions
    that only SHRANK the table — delete-vector commits and partition/
    file deletes — contribute nothing instead of raising; the caller
    accepts that deletions are not propagated downstream (appends that
    preceded an in-window delete still deliver, exactly as a live
    stream would have delivered them before the delete landed)."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("read_appends: no committed table here")
    to_v = int(to_version) if to_version is not None else int(
        manifest["version"]
    )
    appended, schema, partitioned, evo = _append_delta_files(
        fs, table_dir, manifest, int(from_version), to_v,
        ignore_deletes=ignore_deletes,
    )
    # evo comes from the WALK (each delivered file resolved against the
    # entry that appended it) — the final entry's resolution would
    # silently NULL renamed columns of files a later compact dropped
    return _read_files(
        spark, fs, table_dir, appended, schema, partitioned, evo=evo,
    )


def _append_delta_files(
    fs,
    table_dir: str,
    manifest: dict,
    from_v: int,
    to_v: int,
    ignore_deletes: bool = False,
):
    """``(appended files, schema_json, partitioned, evo)`` between two
    retained versions — the metadata algebra behind
    :func:`read_appends` and the ``bamboo_published`` streaming source.

    Walks every intermediate snapshot so interleaved rewrites can't
    smuggle old rows into the delta: an append step contributes its new
    files; a pure-rewrite step (same row count) contributes nothing —
    but if it rewrote a file already collected as appended, those
    appended rows were folded into mixed files and the exact delta is
    unrecoverable (raise, don't over-deliver). ``ignore_deletes`` lets
    shrinking versions pass as no-ops (see :func:`read_appends`).

    ``evo`` (None unless any walked entry is schema-evolved) is the
    read descriptor resolving each DELIVERED file's physical columns —
    built from the file's APPENDING entry, not the final one: a file
    appended before a rename and dropped by a later compact is absent
    from the final entry's resolution, and resolving it there would
    silently NULL the renamed column. The final entry's field ids key
    the logical names; a walk whose id space broke (a full rewrite
    re-assigned ids mid-range) refuses instead of guessing (Delta
    similarly blocks streaming across column-mapping changes)."""

    def _entry_of(v: int) -> dict:
        if v == 0:
            # version 0 = the empty table before the first commit: the
            # delta from it is the FULL initial snapshot (how a
            # startingVersion=0 stream replays history)
            return {"n_rows": 0, "segments": []}
        if v == int(manifest["version"]):
            return manifest
        snaps = manifest.get("snapshots", {})
        if str(v) not in snaps:
            raise KeyError(
                "version %s is not a retained snapshot (have: %s)"
                % (v, sorted(int(x) for x in snaps))
            )
        return snaps[str(v)]

    appended: List[str] = []
    fmaps: dict = {}  # delivered file -> {field_id: phys name}
    evolved_any = False
    ids_broken: Optional[str] = None

    def _collect(added_files, e: dict) -> None:
        # record each appended file's stamped field map FROM THE ENTRY
        # THAT APPENDED IT — the final entry may no longer resolve it
        ff = _resolve_entry(fs, table_dir, e, rekey_stats=False)[
            "file_fields"
        ]
        for f in added_files:
            appended.append(f)
            fmaps[f] = ff[f]

    def _step_ids(a: dict, b: dict) -> None:
        nonlocal ids_broken
        if ids_broken is None and not _ids_step_ok(a, b):
            ids_broken = (
                "a full rewrite re-assigned field ids inside the delta"
            )

    prev_e = _entry_of(from_v)
    prev_files = set(_entry_files(fs, table_dir, prev_e))
    evolved_any = bool(prev_e.get("schema_evolved"))
    schema, partitioned = None, False
    for v in range(from_v + 1, to_v + 1):
        e = _entry_of(v)
        _step_ids(prev_e, e)
        evolved_any = evolved_any or bool(e.get("schema_evolved"))
        cur_files = set(_entry_files(fs, table_dir, e))
        added = cur_files - prev_files
        dropped = prev_files - cur_files
        grew = int(e.get("n_rows", 0)) - int(prev_e.get("n_rows", 0))
        # delete-vector growth on carried files = rows deleted in this
        # step even when the FILE set only grew (e.g. an incremental
        # merge commits dv-deletes + appends in one version) — strict
        # append-only reads must refuse it; ignore_deletes skips the
        # deletes and keeps delivering the adds. dataChange=false
        # commits are exempt by contract (same rows — a compaction
        # changes REFS, never membership).
        if e.get("dv") != prev_e.get("dv") and e.get(
            "data_change"
        ) is not False:
            common = prev_files & cur_files
            dv_prev_m = _load_dv(fs, table_dir, prev_e)
            dv_cur_m = _load_dv(fs, table_dir, e)
            dv_changed = any(
                (dv_prev_m.get(f) or None) != (dv_cur_m.get(f) or None)
                for f in common
            )
            if dv_changed and not ignore_deletes:
                raise ValueError(
                    "read_appends: v%d deleted rows via delete vectors; "
                    "the delta is not append-only (pass "
                    "ignore_deletes=True / option ignoreDeletes to skip "
                    "delete commits, or read_changes() to consume them)"
                    % v
                )
            if dv_changed:
                if dropped:
                    raise ValueError(
                        "read_appends: v%d combined a file rewrite with "
                        "delete-vector changes; the delta is not "
                        "expressible — read the full snapshot" % v
                    )
                _collect(sorted(added), e)
                prev_e, prev_files = e, cur_files
                schema = e["schema"]
                partitioned = bool(e.get("partition_by"))
                continue
        if grew < 0:
            if ignore_deletes and not added:
                # a pure shrink (dv delete: no file change; partition/
                # file delete: drops only) — under ignore_deletes it
                # contributes nothing. Already-collected appended files
                # keep delivering even if the delete dropped them: a
                # live stream would have delivered those rows before
                # the delete landed (Delta's ignoreDeletes contract).
                prev_e, prev_files = e, cur_files
                schema = e["schema"]
                partitioned = bool(e.get("partition_by"))
                continue
            raise ValueError(
                "read_appends: v%d shrank the table (delete/replace); "
                "the delta is not append-only%s" % (
                    v,
                    "" if ignore_deletes else
                    " (pass ignore_deletes=True / option "
                    "ignoreDeletes to skip delete commits)",
                )
            )
        if e.get("data_change") is False and grew == 0:
            # pure-rewrite commit (compact marks itself
            # dataChange=false, the Delta design): it
            # re-cites EXISTING rows in new files and contributes
            # nothing to the delta. Crucially, files it dropped stay
            # readable — they're still referenced by the retained
            # pre-rewrite snapshots this walk already validated — so
            # appended files collected earlier keep delivering even
            # though the current snapshot no longer lists them.
            prev_e, prev_files = e, cur_files
            schema = e["schema"]
            partitioned = bool(e.get("partition_by"))
            continue
        if dropped & set(appended):
            raise ValueError(
                "read_appends: v%d rewrote files that carry appended "
                "rows (compaction folded the delta); read the full "
                "snapshot instead" % v
            )
        if grew > 0:
            if dropped:
                raise ValueError(
                    "read_appends: v%d both added rows and removed "
                    "files (replace); the delta is not append-only" % v
                )
            _collect(sorted(added), e)
        # grew == 0 with added files = pure rewrite of pre-delta rows:
        # contributes nothing
        prev_e, prev_files = e, cur_files
        schema, partitioned = e["schema"], bool(e.get("partition_by"))
    if schema is None:  # from == to
        e = _entry_of(to_v)
        schema, partitioned = e["schema"], bool(e.get("partition_by"))
    evo = None
    if evolved_any and appended:
        if ids_broken:
            raise ValueError(
                "read_appends: the table renamed/dropped columns and %s "
                "— the delivered files' physical columns can't be "
                "resolved exactly; read the full snapshot or "
                "read_changes() instead" % ids_broken
            )
        evo = {"ids": _field_ids_of(_entry_of(to_v))[0], "files": fmaps}
    return appended, schema, partitioned, evo


def _ids_step_ok(a: dict, b: dict) -> bool:
    """Field-id continuity between two CONSECUTIVE snapshot entries: a
    name keeps its id, ids are never reused, the counter never shrinks.
    A full rewrite re-assigns ids positionally — when that changed any
    shared name's id (or shrank the counter), file maps stamped before
    it are keyed in a DEAD id space and cross-version resolution must
    refuse rather than guess."""
    ia, na = _field_ids_of(a) if a.get("schema") else ({}, 1)
    ib, nb = _field_ids_of(b)
    return nb >= na and all(
        ib[n] == i for n, i in ia.items() if n in ib
    )


def _cdf_delta(
    fs, table_dir: str, manifest: dict, from_v: int, to_v: int
) -> List[dict]:
    """METADATA-ONLY change plan between two retained versions — the
    streaming change-feed planner (``bamboo_published`` with
    ``readChangeFeed``). Returns one dict per file-task:
    ``{kind, file, take_ref, mask_ref, fields, version, schema,
    partitioned}`` where ``take_ref`` is a ``(cur, prev)`` pair of
    position refs (see :func:`_dv_ref_of`) whose difference names the
    newly-deleted rows (resolved EXECUTOR-side — sidecar positions
    never pass through the driver), ``mask_ref`` positions to exclude
    (a dropped/added file's pre-existing dv), and ``fields`` the
    file's (logical, physical) column resolution on schema-evolved
    tables (None = identity). Everything resolves from manifests and
    dv manifests on the DRIVER — no Spark job — which is exactly what
    a streaming source's ``partitions()`` is allowed to do.
    Row-REWRITING commits (CoW update / replaceWhere) plan "rewrite"
    GROUP tasks — the dropped vs added files of one hive partition,
    multiset-diffed EXECUTOR-side with row-exact parity to the batch
    :func:`read_changes` (per-partition decomposition is exact because
    identical rows cannot span partition directories); nested-column
    schemas still refuse toward the batch path."""

    def _entry_of(v: int) -> dict:
        if v == 0:
            return {"n_rows": 0, "segments": []}
        if v == int(manifest["version"]):
            return manifest
        snaps = manifest.get("snapshots", {})
        if str(v) not in snaps:
            raise KeyError(
                "version %s is not a retained snapshot (have: %s)"
                % (v, sorted(int(x) for x in snaps))
            )
        return snaps[str(v)]

    # every task reads under the MANIFEST schema (Delta's CDF contract:
    # changes surface under the READ-time schema) — the stream reader's
    # output schema is pinned once, and per-version schemas would
    # desync from it across a mid-feed rename. On evolved tables each
    # file's physical columns resolve by field id from the entry that
    # OWNS the file in that step. Evolution is detected over the WALKED
    # entries, not just the planning manifest: a full rewrite (compact)
    # clears `schema_evolved` and resets field ids, and a stream
    # catching up across it would otherwise resolve pre-compact files
    # of a formerly-renamed table as identity — silently NULLing the
    # renamed column (the exact wrongness read_appends/read_changes
    # refuse). A broken id space refuses the same way.
    walked = {
        v: _entry_of(v) for v in range(from_v, to_v + 1)
    }
    man_evolved = bool(manifest.get("schema_evolved")) or any(
        e.get("schema_evolved") for e in walked.values()
    )
    man_ids, _ = _field_ids_of(manifest)
    man_names = [
        x["name"] for x in json.loads(manifest["schema"])["fields"]
    ]
    if man_evolved:
        steps_ok = all(
            _ids_step_ok(walked[v], walked[v + 1])
            for v in range(from_v, to_v)
        ) and _ids_step_ok(walked[to_v], manifest)
        if not steps_ok:
            raise ValueError(
                "change feed: a full rewrite re-assigned field ids "
                "between v%d and the current manifest of this renamed/"
                "dropped-column table — exact cross-era column "
                "resolution is impossible; use the batch "
                "read_changes() over a pre-rewrite range instead"
                % from_v
            )

    def _fields_of(res: dict, f: str):
        """Per-file (logical, physical-or-None) tuple — the executor-
        side column resolution (mirrors the DataSource's
        `_fields_for`). None = identity (table never evolved)."""
        if not man_evolved:
            return None
        fm = res["file_fields"][f]
        return tuple(
            (n, fm.get(str(man_ids.get(n)))) for n in man_names
        )

    plan: List[dict] = []
    prev_e = _entry_of(from_v)
    res_prev = _resolve_entry(fs, table_dir, prev_e)
    prev_files = set(res_prev["files"])
    for v in range(from_v + 1, to_v + 1):
        e = _entry_of(v)
        res_cur = _resolve_entry(fs, table_dir, e)
        cur_files = set(res_cur["files"])
        added = sorted(cur_files - prev_files)
        dropped = sorted(prev_files - cur_files)
        grew = int(e.get("n_rows", 0)) - int(prev_e.get("n_rows", 0))
        dv_prev = _load_dv(fs, table_dir, prev_e)
        dv_cur = _load_dv(fs, table_dir, e)
        base = {
            "version": v,
            "schema": manifest["schema"],
            "partitioned": bool(e.get("partition_by")),
        }

        def _dv_task(f: str) -> Optional[dict]:
            # dv growth on a file live in both snapshots: the executor
            # takes cur-minus-prev positions (exact row addresses)
            if (dv_cur.get(f) or None) == (dv_prev.get(f) or None):
                return None
            return {
                "kind": "delete", "file": f,
                "take_ref": (
                    _dv_ref_of(dv_cur.get(f), f),
                    _dv_ref_of(dv_prev.get(f), f),
                ),
                "mask_ref": None,
                "fields": _fields_of(res_cur, f),
                **base,
            }

        if e.get("data_change") is False:
            pass  # compaction/clustering: same rows, nothing to feed
        elif not dropped:
            # appends, dv deletes, and the incremental-merge mix
            # (appends + dv deletes in ONE commit) are all exactly
            # expressible from metadata + row addresses
            for f in added:
                plan.append(
                    {"kind": "insert", "file": f,
                     "take_ref": None,
                     "mask_ref": _dv_ref_of(dv_cur.get(f), f),
                     "fields": _fields_of(res_cur, f),
                     **base}
                )
            for f in sorted(prev_files & cur_files):
                t = _dv_task(f)
                if t:
                    plan.append(t)
        elif grew < 0 and not added:
            for f in dropped:  # whole-file/partition delete
                plan.append(
                    {"kind": "delete", "file": f,
                     "take_ref": None,
                     "mask_ref": _dv_ref_of(dv_prev.get(f), f),
                     "fields": _fields_of(res_prev, f),
                     **base}
                )
            for f in sorted(prev_files & cur_files):
                t = _dv_task(f)
                if t:
                    plan.append(t)
        else:
            # ROW-REWRITING commit (CoW update / replaceWhere / a
            # membership-changing compaction): plan per-PARTITION
            # REWRITE GROUPS — each task diffs the dropped vs added
            # rows of ONE hive partition executor-side (the same
            # multiset-diff shape batch read_changes runs as a Spark
            # job). Per-partition decomposition is EXACT: identical
            # full rows can never span partition directories (an
            # identity partition value IS part of the row; a hidden
            # transform derives the dir deterministically from it), so
            # group-local diffs sum to the global diff. Any touched
            # file missing a partition segment (pre-evolution layout)
            # collapses the commit to one global group — conservative,
            # still exact. Nested/map columns aren't multiset-diffable
            # in the Arrow worker: refuse toward batch read_changes
            # (which refuses maps for the same reason).
            if any(
                not isinstance(x["type"], str)
                for x in json.loads(manifest["schema"])["fields"]
            ):
                raise ValueError(
                    "change feed: v%d rewrote rows and the schema has "
                    "nested columns — the executor-side multiset diff "
                    "needs atomic columns; use the batch "
                    "read_changes() (maps refuse there too)" % v
                )
            pby = list(e.get("partition_by") or [])

            def _gkey(f: str):
                vals = tuple(_pt_path_value(f, c) for c in pby)
                return None if any(x is None for x in vals) else vals

            ko = [_gkey(f) for f in dropped]
            kn = [_gkey(f) for f in added]
            groups: dict = {}
            if pby and all(k is not None for k in ko + kn):
                for f, k in zip(dropped, ko):
                    groups.setdefault(k, ([], []))[0].append(f)
                for f, k in zip(added, kn):
                    groups.setdefault(k, ([], []))[1].append(f)
            else:
                groups = {None: (dropped, added)}
            for k in sorted(
                groups, key=lambda x: (x is None, x)
            ):
                old_fl, new_fl = groups[k]
                plan.append(
                    {
                        "kind": "rewrite",
                        "file": None,
                        "take_ref": None,
                        "mask_ref": None,
                        "fields": None,
                        "old": [
                            (
                                f,
                                _dv_ref_of(dv_prev.get(f), f),
                                _fields_of(res_prev, f),
                            )
                            for f in old_fl
                        ],
                        "new": [
                            (
                                f,
                                _dv_ref_of(dv_cur.get(f), f),
                                _fields_of(res_cur, f),
                            )
                            for f in new_fl
                        ],
                        **base,
                    }
                )
            for f in sorted(prev_files & cur_files):
                t = _dv_task(f)
                if t:
                    plan.append(t)
        prev_e, prev_files, res_prev = e, cur_files, res_cur
    return plan


def read_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: Optional[int] = None,
    key_cols=None,
) -> DataFrame:
    """CHANGE DATA FEED: every row-level change between two retained
    versions, stamped ``_change_type`` ('insert' | 'delete') and
    ``_commit_version`` — Delta's CDF reduced to snapshot algebra (no
    per-row tracking, so an update surfaces as delete + insert, the
    documented CDF contract without row ids). Downstream consumers that
    must propagate DELETES (the thing :func:`read_appends` refuses or
    skips) read this instead.

    Per intermediate commit, from metadata outward:

    * ``dataChange=false`` rewrites (compaction/clustering): nothing.
    * pure appends: the added files' rows are inserts — zero diffing.
    * delete-vector commits: the NEWLY dv'd positions, read back from
      their (unchanged) files by row address — exact deletes, IO
      bounded by the affected files.
    * replaces/rewrites: an exact multiset diff of the dropped vs
      added file sets (group-by-all-columns counts, both sides read
      under their snapshot's dv mask) — rows whose count fell are
      deletes, rows whose count rose are inserts; IO bounded by the
      files the commit touched, never the table.

    ``key_cols`` upgrades the feed to UPDATE PAIRING (Delta's
    ``update_preimage``/``update_postimage``): within one commit, a
    delete and an insert sharing a key relabel as the two halves of an
    update — the merge-sink consumer's contract. Requires the table to
    be key-unique per commit (what the merge publishers guarantee);
    one narrow (version, key)-partitioned window over the change rows.

    Every change row surfaces under the ``to_version`` schema (Delta's
    CDF contract): on renamed/dropped-column tables each file resolves
    by field id, so pre-rename rows carry their data under the new
    name; widened columns read NULL on older files. A range whose id
    space broke (a mid-range full rewrite) refuses.

    Needs every version in (from, to] retained (else KeyError — a
    vacuumed step can't prove its delta). Columns of map type can't be
    diffed (not groupable); tables with map columns should join two
    ``read_published(version=)`` snapshots on an id column instead."""
    from pyspark.sql import functions as F, types as T

    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("read_changes: no committed table here")
    to_v = int(to_version) if to_version is not None else int(
        manifest["version"]
    )

    def _entry_of(v: int) -> dict:
        if v == 0:
            return {"n_rows": 0, "segments": []}
        if v == int(manifest["version"]):
            return manifest
        snaps = manifest.get("snapshots", {})
        if str(v) not in snaps:
            raise KeyError(
                "version %s is not a retained snapshot (have: %s)"
                % (v, sorted(int(x) for x in snaps))
            )
        return snaps[str(v)]

    def _tag(df: DataFrame, typ: str, v: int) -> DataFrame:
        return df.select(
            "*",
            F.lit(typ).alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
        )

    def _multiset_diff(old: DataFrame, new: DataFrame, v: int):
        """(inserts, deletes) as exact multiset difference — count per
        full row on each side, explode the positive diffs back out."""
        cols = new.columns
        oc = old.groupBy(*cols).agg(F.count(F.lit(1)).alias("_oc"))
        nc = new.groupBy(*cols).agg(F.count(F.lit(1)).alias("_nc"))
        j = oc.join(nc, cols, "full_outer").select(
            *cols,
            (
                F.coalesce(F.col("_nc"), F.lit(0))
                - F.coalesce(F.col("_oc"), F.lit(0))
            ).alias("_d"),
        )
        ins = (
            j.where(F.col("_d") > 0)
            .withColumn("_r", F.explode(F.sequence(F.lit(1), F.col("_d"))))
            .drop("_d", "_r")
        )
        dels = (
            j.where(F.col("_d") < 0)
            .withColumn("_r", F.explode(F.sequence(F.lit(1), -F.col("_d"))))
            .drop("_d", "_r")
        )
        return _tag(ins, "insert", v), _tag(dels, "delete", v)

    pieces: List[DataFrame] = []
    from_v = int(from_version)
    # EVERY change row surfaces under the END-version schema (Delta's
    # CDF contract): renamed columns carry their data under the new
    # name for pre-rename files too (per-file field-id resolution),
    # widened columns read as NULL on older files, dropped columns
    # vanish. A range whose id space broke (a mid-range full rewrite
    # re-assigned ids) refuses — cross-era resolution would guess.
    entries = {v: _entry_of(v) for v in range(from_v, to_v + 1)}
    end_e = entries[to_v]
    end_schema = end_e["schema"]
    end_ids = _field_ids_of(end_e)[0] if end_e.get("schema") else {}
    evolved_any = any(
        e.get("schema_evolved") for e in entries.values()
    )
    if evolved_any and not all(
        _ids_step_ok(entries[v], entries[v + 1])
        for v in range(from_v, to_v)
    ):
        raise ValueError(
            "read_changes: a full rewrite re-assigned field ids inside "
            "(v%d, v%d] of this renamed/dropped-column table — exact "
            "cross-era column resolution is impossible; join two "
            "read_published(version=) snapshots on an id column "
            "instead" % (from_v, to_v)
        )

    def _evo_end(res: dict) -> Optional[dict]:
        if not evolved_any:
            return None
        return {"ids": end_ids, "files": res.get("file_fields") or {}}

    prev_e = entries[from_v]
    res_prev = _resolve_entry(fs, table_dir, prev_e)
    prev_files = set(res_prev["files"])
    for v in range(from_v + 1, to_v + 1):
        e = entries[v]
        res_cur = _resolve_entry(fs, table_dir, e)
        cur_files = set(res_cur["files"])
        added = sorted(cur_files - prev_files)
        dropped = sorted(prev_files - cur_files)
        parted = bool(e.get("partition_by"))
        dv_prev = _load_dv(fs, table_dir, prev_e)
        dv_cur = _load_dv(fs, table_dir, e)
        evo_prev = _evo_end(res_prev)
        evo_cur = _evo_end(res_cur)
        if e.get("data_change") is False:
            pass  # pure rewrite: same rows, different files
        elif added and not dropped:
            pieces.append(
                _tag(
                    _read_files(
                        spark, fs, table_dir, added, end_schema,
                        parted, dv=dv_cur, evo=evo_cur,
                    ),
                    "insert",
                    v,
                )
            )
        elif added or dropped:
            old_rows = _read_files(
                spark, fs, table_dir, dropped, end_schema,
                bool(prev_e.get("partition_by")), dv=dv_prev,
                evo=evo_prev,
            )
            new_rows = _read_files(
                spark, fs, table_dir, added, end_schema, parted,
                dv=dv_cur, evo=evo_cur,
            )
            ins, dels = _multiset_diff(old_rows, new_rows, v)
            pieces.extend([ins, dels])
        # delete-vector growth on files live in BOTH snapshots: the
        # newly-addressed positions are deletes, read back by address.
        # The position DELTA is a CHUNK-DOMAIN bit-diff (cur & ~prev
        # per word) — proportional to the dv's CHUNKS, not its
        # positions, and only the delta's positions ever unpack; never
        # materialized on the driver. dataChange=false steps
        # (compaction) change refs, never membership: skip.
        common = (
            (prev_files & cur_files)
            if e.get("data_change") is not False
            else set()
        )
        changed = sorted(
            f
            for f in common
            if (dv_cur.get(f) or None) != (dv_prev.get(f) or None)
        )
        if changed:
            cur_ch = _dv_chunks_df(
                spark, fs, table_dir,
                {f: dv_cur[f] for f in changed if dv_cur.get(f)},
            )
        if changed and cur_ch is not None:
            prev_ch = _dv_chunks_df(
                spark, fs, table_dir,
                {f: dv_prev[f] for f in changed if dv_prev.get(f)},
            )
            newly_ch = cur_ch
            if prev_ch is not None:
                newly_ch = (
                    cur_ch.join(
                        prev_ch.select(
                            "_dv_file", "_dv_chunk",
                            F.col("_dv_bits").alias("_prev_bits"),
                        ),
                        ["_dv_file", "_dv_chunk"],
                        "left",
                    )
                    .select(
                        "_dv_file", "_dv_base", "_dv_sfx", "_dv_chunk",
                        F.expr(
                            "zip_with(_dv_bits, coalesce(_prev_bits, "
                            "array_repeat(0L, %d)), (c, p) -> c & ~p)"
                            % _DV_WORDS
                        ).alias("_dv_bits"),
                    )
                )
            newly_df = _dv_unpack(newly_ch)
            addressed = _read_files_with_pos(
                spark, fs, table_dir, changed, end_schema, parted,
                evo=evo_cur,
            )
            hit = (
                addressed.withColumn(
                    "_fb", F.element_at(F.split(F.col("_fp"), "/"), -1)
                )
                .join(
                    newly_df,
                    (F.col("_fb") == F.col("_dv_base"))
                    & (F.col("_ri") == F.col("_dv_pos"))
                    & F.col("_fp").endswith(F.col("_dv_sfx")),
                )
                .drop(
                    "_fp", "_ri", "_fb",
                    "_dv_file", "_dv_base", "_dv_sfx", "_dv_pos",
                )
            )
            pieces.append(_tag(hit, "delete", v))
        prev_e, prev_files, res_prev = e, cur_files, res_cur
    if not pieces:
        schema = T.StructType.fromJson(
            json.loads(_entry_of(to_v).get("schema") or manifest["schema"])
        ).add("_change_type", "string").add("_commit_version", "long")
        return _local_df(spark, [], schema)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    if key_cols:
        from pyspark.sql import Window

        keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        w = Window.partitionBy("_commit_version", *keys)
        has_del = F.max(
            F.when(F.col("_change_type") == "delete", 1).otherwise(0)
        ).over(w)
        has_ins = F.max(
            F.when(F.col("_change_type") == "insert", 1).otherwise(0)
        ).over(w)
        paired = (has_del == 1) & (has_ins == 1)
        out = out.withColumn(
            "_change_type",
            F.when(
                paired & (F.col("_change_type") == "delete"),
                F.lit("update_preimage"),
            )
            .when(
                paired & (F.col("_change_type") == "insert"),
                F.lit("update_postimage"),
            )
            .otherwise(F.col("_change_type")),
        )
    return out


def snapshots(
    table_dir: str, spark: Optional[SparkSession] = None
) -> List[dict]:
    """Retained snapshot metadata, oldest first:
    [{version, n_rows, n_files, is_current}]."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("no committed table at %s" % table_dir)
    cur = int(manifest["version"])
    out = []
    for v, e in sorted(
        manifest.get("snapshots", {}).items(), key=lambda kv: int(kv[0])
    ):
        out.append(
            {
                "version": int(v),
                "n_rows": int(e["n_rows"]),
                "n_files": int(e["n_files"]),
                "is_current": int(v) == cur,
            }
        )
    return out


def table_history(
    spark: SparkSession, table_dir: str
) -> DataFrame:
    """The table's commit audit log as a DataFrame, newest first — the
    ``DESCRIBE HISTORY`` shape (Delta Lake's table history, reduced to
    the manifest's own facts): one row per RETAINED snapshot with the
    commit's version, wall-clock timestamp, operation label
    (append/overwrite/merge/compact/delete/...), row/file/byte
    counters and whether the commit changed data (``data_change=False``
    marks pure rewrites incremental readers skip). Pure metadata — one manifest
    read, no data IO at any table size; ``vacuum`` prunes history rows
    together with the snapshots they describe.

    Pre-labeling commits (tables written before the ``operation`` field
    existed) surface a null operation rather than a guess."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("no committed table at %s" % table_dir)
    cur = int(manifest["version"])
    rows = []
    for v, e in sorted(
        manifest.get("snapshots", {}).items(),
        key=lambda kv: -int(kv[0]),
    ):
        ts = e.get("committed_at_ms")
        rows.append(
            {
                "version": int(v),
                "committed_at_ms": int(ts) if ts is not None else None,
                "operation": e.get("operation"),
                "n_rows": int(e["n_rows"]),
                "n_files": int(e["n_files"]),
                "size_bytes": int(e["size_bytes"]),
                "data_change": bool(e.get("data_change", True)),
                "is_current": int(v) == cur,
            }
        )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("version", T.LongType(), False),
            T.StructField("committed_at_ms", T.LongType(), True),
            T.StructField("operation", T.StringType(), True),
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("n_files", T.LongType(), False),
            T.StructField("size_bytes", T.LongType(), False),
            T.StructField("data_change", T.BooleanType(), False),
            T.StructField("is_current", T.BooleanType(), False),
        ]
    )
    return _local_df(spark, rows, schema)


def published_rows(
    table_dir: str, spark: Optional[SparkSession] = None
) -> int:
    """The committed snapshot's row count — from the manifest alone."""
    fs = _fs_for(table_dir, spark)
    return int(json.loads(fs.read_text(_manifest_path(table_dir, fs)))["n_rows"])


def vacuum(
    table_dir: str,
    keep: int = 2,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
    older_than_ms: Optional[int] = None,
    dry_run: bool = False,
) -> List[str]:
    """Garbage-collect the table: retain the newest ``keep`` SNAPSHOT
    entries (plus the committed one, always), prune the rest from the
    time-travel history (one atomic manifest rewrite BEFORE any data
    delete, so a reader never resolves a vacuumed snapshot), then
    delete every version DIRECTORY no retained snapshot cites a file
    (or delete vector) in — reference-aware GC, the table-format rule.
    Retention is over SNAPSHOTS, not directory names: under optimistic
    concurrency dir numbers are decoupled from snapshot versions, so
    counting dirs would prune the wrong history. Returns the removed
    directory names.

    ``older_than_ms`` additionally RETAINS any snapshot committed
    within the horizon (time-based retention on top of the count) —
    ``vacuum(keep=1, older_than_ms=7*86400_000)`` is "current plus a
    week of undo", the production policy shape.

    Liveness: an optimistic writer staging data holds no lease — only
    its ``.claim`` marker (heartbeat-fresh) marks the dir in-flight;
    dirs with a fresh claim are never touched, stale claims (dead
    writers) are reclaimed by age. Safe by construction: readers
    resolve files only through the manifest, so an uncommitted or
    superseded dir nobody references is garbage.

    ``dry_run=True`` reports the directories this call WOULD remove —
    history prune simulated, nothing written or deleted — so a
    retention change can be reviewed before the bytes go."""
    fs = _fs_for(table_dir, spark)
    # the manifest rewrite (history prune) is a table mutation like any
    # other: without the lease, a publish committing between our read
    # and our replace_with would be silently reverted (its snapshot
    # erased, its files orphaned). Waited for, like a metadata commit.
    with _Lease(fs, table_dir, ttl_ms=lease_ttl_ms).acquire_wait(
        wait_ms=_COMMIT_WAIT_MS
    ):
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            return []
        committed = int(manifest["version"])
        snaps = manifest.get("snapshots") or {}
        by_v = sorted(int(v) for v in snaps)
        retained = set(by_v[-keep:]) if keep else set()
        retained.add(committed)
        if older_than_ms is not None:
            now = _now_ms()
            retained |= {
                int(v)
                for v, e in snaps.items()
                if now - int(e.get("committed_at_ms") or 0)
                <= older_than_ms
            }
        pruned = {
            v: e for v, e in snaps.items() if int(v) in retained
        }
        # reference set AFTER pruning: every dir a retained snapshot
        # (incl. the committed one) cites a data file or its delete-
        # vector file in must survive. Resolved BEFORE the history
        # rewrite, so a refused segment or dv shape mutates nothing.
        referenced = set()
        for e in [manifest, *pruned.values()]:
            for f in _entry_files(fs, table_dir, e):
                if not _is_ext(f):
                    referenced.add(f.split("/", 1)[0])
            # a clone's segment sidecar dir holds no local data files
            # but IS the snapshot's file list — always referenced
            for seg in e.get("segments") or []:
                referenced.add(seg)
            if e.get("dv"):
                referenced.add(e["dv"].split("/", 1)[0])
                # a snapshot's dv manifest can cite sidecar DATASETS in
                # OLDER version dirs (untouched files keep their refs)
                # — those dirs must survive too
                for v in _load_dv(fs, table_dir, e).values():
                    if not _is_ext(v["ds"]):
                        referenced.add(v["ds"].split("/", 1)[0])
        if pruned != snaps:
            manifest["snapshots"] = pruned
            if not dry_run:
                fs.replace_with(
                    json.dumps(manifest),
                    _manifest_path(table_dir, fs),
                    ".tmp.vac",
                )

        def _claim_fresh(name: str) -> bool:
            """An optimistic writer stages data with NO lease held —
            only its ``.claim`` marker (kept fresh by a staging
            heartbeat) says 'in flight'. Deleting a dir under a fresh
            claim would silently corrupt that writer's commit (its
            manifest would reference deleted files), so vacuum treats
            claim-younger-than-TTL as live, never garbage."""
            try:
                age = _now_ms() - fs.mtime_ms(
                    fs.join(table_dir, name + ".claim")
                )
            except Exception:
                return False  # no claim marker: not an in-flight write
            return age <= lease_ttl_ms

        removed = []
        for name in sorted(
            d
            for d in fs.listdir(table_dir)
            if d.startswith("_v") and d[2:].isdigit()
        ):
            if name in referenced:
                continue  # a retained snapshot still cites files here
            if _claim_fresh(name):
                continue  # in-flight optimistic writer staging here
            if not dry_run:
                fs.rmtree(fs.join(table_dir, name))
                fs.delete_file(fs.join(table_dir, name + ".claim"))
            removed.append(name)
        # orphan claim markers (claimed, crashed before writing a dir):
        # reclaim on AGE — dir names are decoupled from snapshot
        # versions, so 'committed version passed the claim number' says
        # nothing about whether the claimer is alive; a stale mtime
        # (past the lease TTL, which staging heartbeats refresh) does
        dirs_now = {
            d
            for d in fs.listdir(table_dir)
            if d.startswith("_v") and d[2:].isdigit()
        }
        for e in fs.listdir(table_dir):
            if (
                e.endswith(".claim")
                and e.startswith("_v")
                and e[2:-6].isdigit()
                and e[:-6] not in dirs_now
                and not _claim_fresh(e[:-6])
            ):
                if not dry_run:
                    fs.delete_file(fs.join(table_dir, e))
        return removed


def fsck_table(
    table_dir: str,
    spark: Optional[SparkSession] = None,
    check_sizes: bool = False,
    lease_ttl_ms: int = 300_000,
) -> dict:
    """Read-only CONSISTENCY AUDIT of a published table — the
    operational "is this table healthy" primitive (Delta FSCK's
    counterpart): walks every retained snapshot and verifies that each
    cited data file, delete-vector manifest, dv sidecar dataset and
    segment sidecar actually resolves on storage; classifies every
    unreferenced ``_v<N>`` dir as in-flight (fresh claim — an
    optimistic writer staging) or orphan (vacuum candidate); and lists
    stray claim markers. Nothing is mutated — repair is ``vacuum``'s
    job (orphans).

    Returns ``{"ok": bool, "version": int, "snapshots_checked": int,
    "files_checked": int, "missing_files": [...], "hidden_files": [...],
    "size_mismatches": [...], "missing_dv": [...],
    "unreadable_segments": [...], "orphan_dirs": [...], "in_flight_dirs":
    [...], "stray_claims": [...], "external_refs": int}`` — ``ok`` is
    False iff a RETAINED snapshot cites something unresolvable or not
    data (orphans/claims are informational; they cost bytes, not
    correctness).

    ``check_sizes=True`` additionally compares each live file's size
    against the recorded ``file_sizes`` (catches silent truncation/
    overwrite outside the commit protocol) — O(files) stat calls,
    driver-side metadata only, no data IO either way.

    ``hidden_files`` lists cited data files whose path below their
    version dir passes through a hidden component (``.x`` or ``_x``
    without ``=``, Spark's rule): a sidecar or temp file committed as
    data, which reads would count as rows.

    ``lease_ttl_ms`` must match the longest TTL your writers run with
    (same default as every publish) — a claim younger than it is
    classified in-flight, older is orphan; auditing with a smaller TTL
    than a live long-rewrite writer's would mislabel its staging dir.

    Scale: the walk touches manifests and sidecars, never data pages;
    a 100 TB table audits in O(snapshots × files) stats."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("fsck_table: no committed table here")
    report = {
        "ok": True,
        "version": int(manifest["version"]),
        "snapshots_checked": 0,
        "files_checked": 0,
        "missing_files": [],
        "hidden_files": [],
        "size_mismatches": [],
        "missing_dv": [],
        "unreadable_segments": [],
        "orphan_dirs": [],
        "in_flight_dirs": [],
        "stray_claims": [],
        "external_refs": 0,
    }

    def _resolvable(path: str) -> bool:
        try:
            fs.file_size(path)
            return True
        except Exception:
            return False

    entries = {str(manifest["version"]): manifest}
    for v, e in (manifest.get("snapshots") or {}).items():
        entries.setdefault(str(v), e)
    referenced = set()
    seen_files = set()
    for v, e in sorted(entries.items(), key=lambda kv: int(kv[0])):
        report["snapshots_checked"] += 1
        # segment sidecars must parse (they ARE the file lists)
        for seg in e.get("segments") or []:
            referenced.add(seg)
            try:
                _load_seg(fs, table_dir, seg)
            except Exception as ex:
                report["unreadable_segments"].append(
                    {"snapshot": int(v), "segment": seg, "error": str(ex)}
                )
                continue
        try:
            files = _entry_files(fs, table_dir, e)
        except Exception as ex:
            report["unreadable_segments"].append(
                {"snapshot": int(v), "segment": "<entry>", "error": str(ex)}
            )
            continue
        sizes = {}
        if check_sizes:
            try:
                sizes = _resolve_entry(fs, table_dir, e).get(
                    "file_sizes"
                ) or {}
            except Exception:
                sizes = {}
        for f in files:
            if _is_ext(f):
                report["external_refs"] += 1
            else:
                referenced.add(f.split("/", 1)[0])
            if f in seen_files:
                continue
            seen_files.add(f)
            report["files_checked"] += 1
            p = _ref_path(fs, table_dir, f)
            # a cited path below its version dir through a hidden
            # component (``_v2/_dvp/part-…``) is a sidecar or temp
            # file taken for data, even when it resolves
            if _hidden(p[len(_ref_group(fs, table_dir, f)) + 1:]):
                report["hidden_files"].append(
                    {"snapshot": int(v), "file": f}
                )
            if not _resolvable(p):
                report["missing_files"].append(
                    {"snapshot": int(v), "file": f}
                )
            elif check_sizes and sizes.get(f) is not None:
                actual = fs.file_size(p)
                if actual != sizes[f]:
                    report["size_mismatches"].append(
                        {
                            "file": f,
                            "recorded": sizes[f],
                            "actual": actual,
                        }
                    )
        if e.get("dv"):
            referenced.add(e["dv"].split("/", 1)[0])
            try:
                dvmap = _load_dv(fs, table_dir, e)
            except Exception as ex:
                report["missing_dv"].append(
                    {"snapshot": int(v), "dv": e["dv"], "error": str(ex)}
                )
                dvmap = {}
            for f, val in dvmap.items():
                ds = val["ds"]
                if not _is_ext(ds):
                    referenced.add(ds.split("/", 1)[0])
                dsp = _ref_path(fs, table_dir, ds)
                try:
                    if not fs.walk_files(dsp):
                        raise FileNotFoundError(dsp)
                except Exception:
                    report["missing_dv"].append(
                        {"snapshot": int(v), "file": f, "ds": ds}
                    )
    dirs = sorted(
        d
        for d in fs.listdir(table_dir)
        if d.startswith("_v") and d[2:].isdigit()
    )
    for name in dirs:
        if name in referenced:
            continue
        try:
            age = _now_ms() - fs.mtime_ms(
                fs.join(table_dir, name + ".claim")
            )
            fresh = age <= lease_ttl_ms
        except Exception:
            fresh = False
        (report["in_flight_dirs"] if fresh else report["orphan_dirs"]).append(
            name
        )
    dirset = set(dirs)
    for e in fs.listdir(table_dir):
        if (
            e.endswith(".claim")
            and e.startswith("_v")
            and e[2:-6].isdigit()
            and e[:-6] not in dirset
        ):
            report["stray_claims"].append(e)
    report["ok"] = not (
        report["missing_files"]
        or report["hidden_files"]
        or report["size_mismatches"]
        or report["missing_dv"]
        or report["unreadable_segments"]
    )
    return report


def compact(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """The table's one maintenance writer: republish the CURRENT
    snapshot's rows as a new version whose file count is sized from
    the snapshot's BYTES — ``ceil(size_bytes / target_file_bytes)``
    output files (128 MB default), never a fixed constant. Readers
    never see a half-compacted table — the rewrite is an ordinary
    versioned publish committed by the same atomic manifest swap, and
    the pre-compaction version stays readable (time travel) until
    ``vacuum`` reclaims it.

    Every maintenance job is this one rewrite: the read goes through
    the delete-vector mask, so vectors are applied and none is left;
    files land under the CURRENT partition spec (a pending
    ``set_partition_layout`` evolution is finished); a shallow clone's
    external files are copied in; and the new files get stats and
    blooms at write time from the persisted ``index_cols``, so
    ``set_index_columns`` followed by ``compact`` is the index
    backfill. ``meta`` and ``index_cols`` carry forward.

    Sizing at scale: a fixed file count is wrong in both directions —
    1 file funnels a large snapshot through ONE task (a single-task
    full-table rewrite), and one-file-per-partition-value rewrites a
    skewed partition value in one task. So: the total byte size comes
    from the manifest (recorded at every commit), and the shuffle is
    ``repartitionByRange(n, *partition_by, xxhash64(payload))`` — the
    range sort keeps each hive partition value's rows contiguous (so a
    task writes ~1 partition directory, no file-count explosion) while
    the hash tail SPLITS a skewed value across as many tasks as its
    bytes demand. Every output file lands near ``target_file_bytes``
    regardless of partition skew. Unpartitioned tables use round-robin
    ``repartition(n)`` — perfectly even files, no sort.

    The ingest pattern this serves: many small appended publishes
    (micro-batch ``foreachBatch`` publishes, merge deltas)
    accumulate file counts that degrade planning at 100 TB — the
    task-per-file floor and driver listing memory both scale with file
    count, not bytes. A periodic ``compact()`` keeps files O(bytes /
    128 MB), and because it is just publish-over-read it inherits crash
    consistency for free (a dead compactor leaves only an orphan
    ``_v<K>`` dir the next publish skips past and vacuum removes)."""
    import math

    from pyspark.sql import functions as F

    fs = _fs_for(table_dir, spark)
    # read+republish under ONE lease, queued behind a commit in flight
    # like the metadata writers; the heartbeat keeps a live multi-hour
    # rewrite from being TTL-evicted (eviction = crashed writers only)
    with _Lease(fs, table_dir, heartbeat=True).acquire_wait(
        wait_ms=_COMMIT_WAIT_MS
    ) as lease:
        cur = read_published(spark, table_dir)
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            raise ValueError("no committed table at %s" % table_dir)
        parts = manifest.get("partition_by") or []
        pspec = manifest.get("partition_spec")
        target_files = max(
            1, math.ceil(manifest["size_bytes"] / float(target_file_bytes))
        )
        if parts:
            # hidden partitioning: re-derive the transform columns so
            # the range clustering co-locates each physical partition
            # (atomic_publish drops them again for the logical schema)
            cur = _materialize_partition_cols(cur, pspec)
            payload = [c for c in cur.columns if c not in parts]
            out = (
                cur.withColumn(
                    "_ck",
                    F.xxhash64(*[F.col(c) for c in payload] or [F.lit(0)]),
                )
                .repartitionByRange(
                    target_files,
                    *([F.col(c) for c in parts] + [F.col("_ck")])
                )
                .drop("_ck")
            )
        else:
            out = cur.repartition(target_files)
        return atomic_publish(
            out, table_dir, partition_by=parts or None, _lease=lease,
            data_change=False, operation="compact", _partition_spec=pspec,
            _keep_layout=True,
        )


def _prune_key_candidates(res: dict, candidates, col: str, key_vals):
    """Probe-scan pruning for a single-column key batch: drop files
    whose recorded min/max RANGE excludes every batch key (wins big on
    monotone keys — time/sequence-keyed tables localize a batch to a
    few recent files), then files whose equality BLOOM proves every
    batch key absent. Conservative by construction: no index, no
    prune."""
    stats = res.get("file_stats") or {}
    kept = []
    for f in candidates:
        mm = (stats.get(f) or {}).get(col)
        if mm is None:
            kept.append(f)
            continue
        mn, mx = mm
        try:
            if any(mn <= v <= mx for v in key_vals):
                kept.append(f)
        except TypeError:
            kept.append(f)  # incomparable stats: stay conservative
    if res.get("file_blooms"):
        kept = [
            f
            for f in kept
            if any(_prune_eq(res, [f], {col: v}) for v in key_vals)
        ]
    return kept


def _probe_candidates(res: dict, keys, key_df) -> List[str]:
    """The merge key probe: the snapshot's files that may hold a key of
    ``key_df`` (the batch's distinct key frame). Range+bloom pruning
    (:func:`_prune_key_candidates`) needs a single-column key and
    per-file indexes, and runs only on a data-sized table —
    ``_KEY_PRUNE_MIN_FILES`` files or ``_KEY_PRUNE_MIN_BYTES`` bytes:
    the probe costs a key scan and a driver collect (2 jobs), and on a
    handful of small files it can prune at most that handful of cheap
    opens. It collects AT MOST cap+1 keys, never a table-sized batch's
    whole key set, so ``#keys × #files`` stays driver-sized."""
    candidates = list(res["files"])
    if (
        len(keys) == 1
        and (res["file_blooms"] or res["file_stats"])
        and (
            len(candidates) >= _KEY_PRUNE_MIN_FILES
            or sum(res["file_sizes"].get(f) or 0 for f in candidates)
            >= _KEY_PRUNE_MIN_BYTES
        )
    ):
        cap = 2_000_000 // len(candidates)
        key_vals = [r[0] for r in key_df.limit(cap + 1).collect()]
        if key_vals and len(key_vals) <= cap:
            candidates = _prune_key_candidates(
                res, candidates, keys[0], key_vals
            )
    return candidates


def _merge_schema(df: DataFrame, manifest: dict, schema_evolution: bool,
                  who: str, what: str):
    """The merge writers' schema step: ``df`` must carry exactly the
    table's columns — the merged rows land in new files read under the
    MANIFEST schema, so a renamed/retyped column would corrupt quietly
    at scan time. ``schema_evolution=True`` relaxes that to ADD-ONLY
    widening (:func:`_widen_schema`) and aligns ``df`` to the (possibly
    widened) column order, NULL-filling table columns it lacks.
    Returns ``(df, out_schema_json, out_fids)``: the widened schema
    (None unless a column was added or widened) and ``(fids, next_id)``
    (None unless a column was added)."""
    src_fields = json.loads(df.schema.json())["fields"]
    new_sig = [(f["name"], f["type"]) for f in src_fields]
    old_sig = [
        (f["name"], f["type"])
        for f in json.loads(manifest["schema"])["fields"]
    ]
    if new_sig == old_sig:
        return df, None, None
    if not schema_evolution:
        raise ValueError(
            "%s: %s schema differs from the committed table schema "
            "(pass schema_evolution=True to add new nullable columns): "
            "%s=%s table=%s" % (who, what, what, new_sig, old_sig)
        )
    out_schema_json, out_fids = _widen_schema(manifest, src_fields, who)
    return (
        _align_to(df, out_schema_json or manifest["schema"]),
        out_schema_json,
        out_fids,
    )


def merge_publish_incremental(
    changes: DataFrame,
    table_dir: str,
    key_cols,
    version_cols,
    op_col: Optional[str] = None,
    delete_op: str = "delete",
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
    meta: Optional[dict] = None,
    partition_by=None,
    schema_evolution: bool = False,
) -> Optional[int]:
    """MERGE-ON-READ upsert: apply a CDC batch in ONE commit that
    (a) delete-vectors the old rows of every key the batch touches —
    found by row ADDRESS, no file rewritten — and (b) appends the
    batch's post-state rows as new files. No table rewrite: commit IO
    is O(batch) regardless of table size (the Delta merge +
    deletion-vectors shape). When churn has accumulated, ``compact``
    folds the vectors away.

    Intra-batch semantics: the batch is collapsed per key by
    ``scale.cdc_apply`` against an empty base — last writer by
    ``version_cols`` wins, tombstones net to absent.

    The address scan opens only the files the key probe keeps — the
    probe ``merge_into`` runs (:func:`_probe_candidates`): range+bloom
    pruning on a single-column key with per-file indexes, gated to
    tables of at least ``_KEY_PRUNE_MIN_FILES`` files or
    ``_KEY_PRUNE_MIN_BYTES`` bytes; below that every live file is
    scanned, which is cheaper than the probe's two jobs (a
    ``publish_stream`` CDC sink pays them per micro-batch otherwise).
    Concurrency is optimistic like every publish: the scan runs
    lease-less; at commit the rebase succeeds iff the table kept its
    schema/layout, every matched file is still live, and their delete
    vectors are unchanged — anything else raises. Returns the committed
    version, or None for a no-op batch.

    ``schema_evolution=True``: a batch carrying NEW columns widens the
    table schema in the same commit (add-only, fresh field ids; retype
    and retired-name resurrection refused), and a batch missing table
    columns NULL-fills them — the upstream-added-a-column case a CDC
    pipeline hits first, same contract as
    ``merge_into(schema_evolution=True)``."""
    from pyspark.sql import functions as F

    from bamboo_spark.operators.scale import cdc_apply

    spark = changes.sparkSession
    fs = _fs_for(table_dir, spark)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    vers = (
        [version_cols]
        if isinstance(version_cols, str)
        else list(version_cols)
    )
    base_empty = changes.limit(0)
    if op_col:
        base_empty = base_empty.drop(op_col)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        # first batch seeds the table: the same cdc_apply-against-empty
        # collapse as every later batch
        seeded = cdc_apply(
            base_empty, changes, keys, vers, op_col=op_col,
            delete_op=delete_op,
        )
        return atomic_publish(
            seeded, table_dir, partition_by=partition_by, meta=meta,
            stats_cols=stats_cols, bloom_cols=bloom_cols,
            lease_ttl_ms=lease_ttl_ms, operation="merge",
        )
    parts = manifest.get("partition_by") or []
    upserts = cdc_apply(
        base_empty, changes, keys, vers, op_col=op_col,
        delete_op=delete_op,
    )
    upserts, out_schema_json, out_fids = _merge_schema(
        upserts, manifest, schema_evolution,
        "merge_publish_incremental", "batch",
    )
    upserts = upserts.localCheckpoint(eager=True)  # write + key probe
    batch_keys = changes.select(*keys).distinct()
    # ---- address scan (no lease): where do the touched keys live NOW?
    res = _resolve_entry(fs, table_dir, manifest)
    candidates = _probe_candidates(res, keys, batch_keys)
    addr = None
    if candidates:
        # matched-row ADDRESSES as a DataFrame — never collected; the
        # commit phase folds them into delete vectors with a
        # distributed sidecar write (_dv_build)
        addr = (
            _read_files_with_pos(
                spark, fs, table_dir, candidates, manifest["schema"],
                bool(parts), evo=_evo_of(manifest, res),
            )
            .join(F.broadcast(batch_keys), keys, "inner")
            .select("_fp", "_ri")
        )
    return _mor_commit(
        spark, fs, table_dir, manifest, addr, candidates, upserts,
        parts, lease_ttl_ms, stats_cols, bloom_cols, meta,
        who="merge_publish_incremental",
        out_schema_json=out_schema_json, out_fids=out_fids,
    )


_WIDEN_CHAIN = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _can_widen(frm, to) -> bool:
    """Delta's type-widening promotion set, restricted to the upcasts
    Spark's parquet reader performs NATIVELY when scanning a narrow
    file under the wide schema (verified on Spark 4.1: the
    byte→short→int→long chain, float→double, byte/short/int→double).
    That native read is what makes widening a METADATA-ONLY commit —
    old files simply read upcast, zero data IO at any table size.
    long→double is excluded (lossy past 2^53), same rule as Delta."""
    if not isinstance(frm, str) or not isinstance(to, str) or frm == to:
        return False
    if frm in _WIDEN_CHAIN and to in _WIDEN_CHAIN:
        return _WIDEN_CHAIN[to] > _WIDEN_CHAIN[frm]
    if frm == "float" and to == "double":
        return True
    return frm in ("byte", "short", "integer") and to == "double"


def _widen_schema(manifest: dict, src_fields, who: str):
    """Schema widening for merge paths (Delta's withSchemaEvolution
    rules): new names must not resurrect retired ones and arrive as
    nullable columns with FRESH field ids; an existing column whose
    source type is a supported WIDENING (:func:`_can_widen`) adopts
    the wider type — keeping its field id, since widening never
    touches identity; a NARROWER source type is fine as-is (the
    caller's ``_align_to`` casts it up); any other type change raises.
    Returns ``(out_schema_json, (fids, next_id))`` — schema None when
    the source neither adds nor widens anything (it may still be
    MISSING table columns; the caller NULL-fills), fids None when no
    column was added (ids unchanged)."""
    src_sig = [(f["name"], f["type"]) for f in src_fields]
    old_fields = json.loads(manifest["schema"])["fields"]
    old_sig = [(f["name"], f["type"]) for f in old_fields]
    src_types = dict(src_sig)
    widened: dict = {}
    bad = []
    for n, t in old_sig:
        st = src_types.get(n)
        if st is None or st == t:
            continue
        if _can_widen(t, st):
            widened[n] = st
        elif not _can_widen(st, t):
            bad.append(n)
    if bad:
        raise ValueError(
            "%s(schema_evolution): column type change(s) %s are "
            "neither a supported widening (byte→short→int→long, "
            "float→double, int→double) nor a narrower source type "
            "castable to the table's" % (who, bad)
        )
    old_names = {n for n, _ in old_sig}
    added = [f for f in src_fields if f["name"] not in old_names]
    retired = set(manifest.get("retired_names") or [])
    readded = [f["name"] for f in added if f["name"] in retired]
    if readded:
        raise ValueError(
            "%s(schema_evolution): column name(s) %s were dropped or "
            "renamed away earlier — re-adding the name would resurrect "
            "old bytes; pick a new name" % (who, readded)
        )
    if not added and not widened:
        return None, None
    union_fields = [
        {**f, "type": widened.get(f["name"], f["type"])}
        for f in old_fields
    ] + [{**f, "nullable": True} for f in added]
    out_json = json.dumps({"type": "struct", "fields": union_fields})
    if not added:
        return out_json, None
    fids, nxt = _field_ids_of(manifest)
    for f in added:
        fids[f["name"]] = nxt
        nxt += 1
    return out_json, (fids, nxt)


def _align_to(df: DataFrame, schema_json: str) -> DataFrame:
    """Project ``df`` onto the given schema: columns in order, exact
    types, missing ones NULL-filled."""
    from pyspark.sql import functions as F, types as T

    st = T.StructType.fromJson(json.loads(schema_json))
    return df.select(
        *[
            F.col(f.name).cast(f.dataType)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in st.fields
        ]
    )


def _mor_commit(
    spark: SparkSession,
    fs,
    table_dir: str,
    manifest: dict,
    addr_df: Optional[DataFrame],
    cand_files,
    out_df: DataFrame,
    parts,
    lease_ttl_ms: int,
    stats_cols,
    bloom_cols,
    meta: Optional[dict],
    who: str,
    out_schema_json: Optional[str] = None,
    out_fids: Optional[tuple] = None,
    operation: str = "merge",
) -> Optional[int]:
    """The MERGE-ON-READ write+commit phase shared by
    ``merge_publish_incremental`` and ``merge_into``: write ``out_df``
    as the delta's new files and fold ``addr_df`` (the matched rows'
    ``(_fp, _ri)`` addresses, still a DataFrame — positions never touch
    the driver) into executor-written delete-vector sidecars
    (:func:`_dv_build`), both WITHOUT the lease; then under a short
    commit lease swap the manifest — with the address-validity rebase
    that makes the lease-less scan safe (a concurrent commit that
    rewrote a matched file or changed its vectors raises instead of
    losing the race).

    ``out_df=None`` is a pure delete (``delete_publish(delete_vectors=
    True)``): no data write, the sidecar build runs inline.

    ``out_schema_json``/``out_fids`` (``(fids, next_id)``) carry a
    MERGE-widened schema (``merge_into(schema_evolution=True)``): the
    committed entry adopts them, new files stamp the extended ids, and
    pre-widening files read the added columns as NULL (schema-merge
    read semantics, same as append's merge mode)."""
    dv0 = _load_dv(fs, table_dir, manifest)
    schema_json = out_schema_json or manifest["schema"]
    fids = out_fids[0] if out_fids else _field_ids_of(manifest)[0]
    with _StagedCommit(fs, table_dir, manifest, who, lease_ttl_ms) as st:
        if addr_df is not None:
            # the matched addresses (checkpointed upstream) and the
            # post-state rows are independent pipelines: the sidecar
            # build runs beside the data write, its jobs back-filling
            # executor slots the write's tail leaves idle (optimization
            # guide §2.6, overlap independent jobs)
            st.sidecar(
                _DVP,
                lambda rel: _dv_build(
                    spark, fs, table_dir, rel, addr_df, cand_files, dv0
                ),
            )
        if out_df is not None:
            st.write(
                _pt_rebalance(
                    _materialize_partition_cols(
                        out_df, manifest.get("partition_spec")
                    ),
                    parts,
                ),
                parts,
            )
            if st.n_rows == 0:
                # a zero-row post-state (all-delete or no-op merge)
                # still leaves empty part files — never cite them
                st.files, st.sizes = [], {}
        new_refs, n_deleted = st.sidecar_result() or ({}, 0)
        if not st.files and not new_refs:
            return None  # nothing matched, nothing added
        st.stage(schema_json, fids, stats_cols, bloom_cols)

        def entry_of(base):
            entry = st.entry(base, operation, meta)
            entry["n_rows"] -= n_deleted
            if out_schema_json:
                entry["schema"] = out_schema_json
            if out_fids:
                entry["field_ids"], entry["next_field_id"] = out_fids
            merged_dv = {**_load_dv(fs, table_dir, base), **new_refs}
            if merged_dv:
                entry["dv"] = _write_dv(fs, table_dir, st.seg, merged_dv)
                entry["dv_rows"] = _dv_nrows(merged_dv)
            return entry

        # address-validity rebase: the lease-less scan is safe iff no
        # concurrent commit rewrote a matched file or changed its vectors
        return st.commit(
            entry_of,
            lambda cur: _check_addressed(
                fs, table_dir, manifest, cur, new_refs, who
            ),
        )


def merge_into(
    source: DataFrame,
    table_dir: str,
    key_cols,
    when_matched_update: Optional[dict] = None,
    when_matched_update_condition: Optional[str] = None,
    when_matched_delete_condition: Optional[str] = None,
    when_not_matched_insert=True,
    when_not_matched_by_source_delete=None,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
    meta: Optional[dict] = None,
    schema_evolution: bool = False,
) -> Optional[int]:
    """Conditional ``MERGE INTO`` (the full Delta/ANSI shape, on the
    merge-on-read commit): join ``source`` to the committed snapshot on
    ``key_cols`` and, per matched target row,

    - DELETE it when ``when_matched_delete_condition`` holds (evaluated
      first, as a guard clause);
    - else UPDATE it when ``when_matched_update`` is given and
      ``when_matched_update_condition`` (default: always) holds —
      ``{col: sql_expr}`` assignments, unlisted columns keep the target
      value;
    - else leave it UNTOUCHED (no delete vector, no rewrite — a merge
      whose conditions fire on 1% of matches costs 1%);

    and INSERT source rows matching no target row when
    ``when_not_matched_insert`` holds (``True``, ``False``, or a SQL
    condition). Conditions and update expressions reference the source
    row as ``s.<col>`` and the target row as ``t.<col>``
    (``"s.v > t.v"``).

    ``when_not_matched_by_source_delete`` (``None``/``True``/SQL over
    ``t.``) is Delta's full-sync clause: target rows whose key appears
    NOWHERE in the source are deleted when the condition holds —
    ``merge_into(src, dir, k, when_matched_update=..., when_not_
    matched_insert=True, when_not_matched_by_source_delete=True)``
    makes the table exactly mirror the source. Cost note: this clause
    must SCAN every live file (a row's absence from the source can't
    be bloom-pruned), and its fired rows delete by vector — a sync
    expected to delete most of the table is cheaper as a fresh
    ``atomic_publish``.

    Semantics follow Delta MERGE: it is an ERROR for one target row to
    match more than one source row (nondeterministic update) — checked
    distributedly and raised BEFORE any write. The whole statement is
    ONE commit: delete vectors for the fired matched rows + new files
    holding updated/inserted rows (O(changes), never a table rewrite),
    with the same optimistic address-validity rebase as
    ``merge_publish_incremental``. ``source`` must carry exactly the
    table's columns (strict, same contract as every incremental
    publish) — unless ``schema_evolution=True`` (Delta's
    ``withSchemaEvolution()``): then NEW source columns WIDEN the table
    schema in the same commit (add-only, nullable; type changes and
    retired names still refuse), inserted rows carry them, updated rows
    take them from the source only when the update dict assigns them
    (NULL otherwise — they had no target value), and files written
    before the widening read them as NULL; a source missing table
    columns contributes NULL for those on insert. The first thing a CDC
    pipeline hits when the upstream adds a column. LWW-style CDC
    batches with op markers want ``merge_publish_incremental`` instead;
    this is the predicate form (conditional upserts, guarded deletes,
    insert-if).

    Scale: the match scan opens only bloom/stat candidate files for
    single-column keys; addresses collected are O(matched rows); the
    cardinality check is one distributed aggregate over the matched
    join. Returns the committed version, or None when nothing fired."""
    from pyspark.sql import functions as F

    spark = source.sparkSession
    fs = _fs_for(table_dir, spark)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if when_matched_update is not None:
        bad = [c for c in when_matched_update if c in keys]
        if bad:
            raise ValueError(
                "merge_into: refusing to update key column(s) %s — "
                "rekeying a row is a delete + insert" % bad
            )
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        # empty table: every source row is NOT MATCHED — the statement
        # reduces to the conditional insert (streaming merge sinks hit
        # this on their first micro-batch)
        ins = source
        if isinstance(when_not_matched_insert, str):
            ins = ins.alias("s").where(F.expr(when_not_matched_insert))
        elif when_not_matched_insert is False:
            ins = ins.limit(0)
        return atomic_publish(
            ins, table_dir, lease_ttl_ms=lease_ttl_ms, meta=meta,
            stats_cols=stats_cols, bloom_cols=bloom_cols,
            operation="merge",
        )
    parts = manifest.get("partition_by") or []
    source, out_schema_json, out_fids = _merge_schema(
        source, manifest, schema_evolution, "merge_into", "source"
    )
    cols = [
        f["name"]
        for f in json.loads(out_schema_json or manifest["schema"])[
            "fields"
        ]
    ]
    tgt_cols = {f["name"] for f in json.loads(manifest["schema"])["fields"]}
    src_typed = {
        f.name: f.dataType for f in source.schema.fields
    }
    source = source.localCheckpoint(eager=True)  # scanned 3x below
    src_keys = source.select(*keys).distinct()
    # ---- match scan (no lease): candidate files by bloom/stats
    res = _resolve_entry(fs, table_dir, manifest)
    dv0 = _load_dv(fs, table_dir, manifest)
    nmbs = when_not_matched_by_source_delete
    # the key probe prunes only while no clause targets rows ABSENT
    # from the source
    candidates = (
        _probe_candidates(res, keys, src_keys)
        if nmbs is None
        else list(res["files"])
    )
    delete_cond = when_matched_delete_condition
    update_cond = when_matched_update_condition or "true"
    fired_m = None  # matched rows where any clause fires, with address
    matched_keys = None
    tgt = None
    if candidates:
        # already-deleted rows never match (merge-on-read mask)
        tgt = _read_files_with_pos(
            spark, fs, table_dir, candidates, manifest["schema"],
            bool(parts), evo=_evo_of(manifest, res), dv=dv0,
        )
        # ---- the matched join, materialized ONCE (r13): the dup
        # check, the fired-row addresses (_dv_build), the UPDATE
        # post-state and the insert anti-join key set all consume this
        # frame — without the checkpoint each consumer re-ran the
        # candidate-file scan + dv mask + join from scratch (3 full
        # executions per merge). O(matched rows) with both row images,
        # the same bound the merge's own write already carries; struct
        # packing keeps the s./t. name spaces so every user-supplied
        # clause expression resolves unchanged.
        m = (
            tgt.alias("t")
            .join(
                source.alias("s"),
                [F.col("t." + k) == F.col("s." + k) for k in keys],
                "inner",
            )
            .select(
                F.struct(
                    *[F.col("t." + c) for c in tgt.columns]
                ).alias("t"),
                F.struct(
                    *[F.col("s." + c) for c in source.columns]
                ).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
        # cardinality violation check (Delta MERGE rule): one target
        # row, many source rows = nondeterministic UPDATE/DELETE — one
        # aggregate over the checkpointed match frame, raised before
        # anything is written. Insert-only merges (no matched clause)
        # skip it, like Delta: duplicate source matches can't touch any
        # target row, so they're legal (and the check's aggregate would
        # be pure cost)
        if when_matched_update is not None or delete_cond:
            dup = (
                m.groupBy(F.col("t._fp"), F.col("t._ri"))
                .count()
                .where(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    "merge_into: a target row matches multiple source "
                    "rows on key %s — deduplicate the source "
                    "(cardinality violation)" % keys
                )
        fire = F.expr("false")
        if delete_cond:
            fire = fire | F.expr(delete_cond)
        if when_matched_update is not None:
            upd_fire = F.expr(update_cond)
            if delete_cond:
                upd_fire = upd_fire & ~F.expr(delete_cond)
            fire = fire | upd_fire
        fired_m = m.where(fire)
        matched_keys = m.select(
            *[F.col("s." + k).alias(k) for k in keys]
        ).distinct()
    # addresses of every fired matched row (deleted OR updated) — kept
    # as a DataFrame end-to-end; _mor_commit folds them into executor-
    # written delete-vector sidecars without a driver collect
    addr: Optional[DataFrame] = None
    if nmbs is not None and nmbs is not False and tgt is not None:
        # NO broadcast hint: this clause's advertised use is full-table
        # sync, where the source (and hence its key set) is table-sized
        # — AQE broadcasts small key sets on its own; forcing the hint
        # here would OOM the driver exactly when the clause matters
        unmatched = tgt.alias("t").join(src_keys, keys, "left_anti")
        if isinstance(nmbs, str):
            unmatched = unmatched.where(F.expr(nmbs))
        addr = unmatched.select("_fp", "_ri")
    if fired_m is not None:
        fired_addr = fired_m.select(
            F.col("t._fp").alias("_fp"), F.col("t._ri").alias("_ri")
        )
        addr = fired_addr if addr is None else addr.unionByName(fired_addr)
    # post-state rows: updated matches + conditional inserts
    out = None
    if when_matched_update is not None and fired_m is not None:
        upd = fired_m
        if delete_cond:
            upd = upd.where(~F.expr(delete_cond))
        upd = upd.where(F.expr(update_cond)).select(
            *[
                (
                    F.expr(when_matched_update[c]).alias(c)
                    if c in when_matched_update
                    else (
                        F.col("t." + c).alias(c)
                        if c in tgt_cols
                        # widened this commit: no target value exists
                        else F.lit(None).cast(src_typed[c]).alias(c)
                    )
                )
                for c in cols
            ]
        )
        out = upd
    if when_not_matched_insert is not False:
        ins = (
            source.join(matched_keys, keys, "left_anti")
            if matched_keys is not None
            else source
        )
        if isinstance(when_not_matched_insert, str):
            # insert condition references the source row as s.<col>
            ins = ins.alias("s").where(F.expr(when_not_matched_insert))
        ins = ins.select(*cols)
        out = ins if out is None else out.unionByName(ins)
    if out is None:
        out = source.limit(0).select(*cols)
    if out_schema_json:
        # uniform post-state types: updated rows keep narrow target
        # values until this cast, inserts are already wide — the new
        # files must all land under the (possibly widened) out schema
        out = _align_to(out, out_schema_json)
    return _mor_commit(
        spark, fs, table_dir, manifest, addr, candidates, out, parts,
        lease_ttl_ms, stats_cols, bloom_cols, meta, who="merge_into",
        out_schema_json=out_schema_json, out_fids=out_fids,
    )


def _keep_pred(condition: str) -> str:
    """Keep-side predicate for a row-matching ``condition`` under SQL
    three-valued logic: only rows where the condition is TRUE leave;
    NULL and FALSE rows STAY. A bare ``NOT (cond)`` evaluates NULL for
    NULL-condition rows and Spark's filter drops them — a delete/
    replace would silently erase rows that never matched (and whether
    a NULL row died would depend on which FILE it shared with real
    matches: data-dependent wrongness)."""
    return "not coalesce(cast((%s) as boolean), false)" % condition


_CONFLICT_ATTEMPTS = 3  # runs of a row-level writer before a lost race raises


def _retry_on_conflict(fs, table_dir: str, manifest: dict, run):
    """``run(manifest)``, re-run against a freshly read snapshot when
    it loses an optimistic race (:class:`ConcurrentWriteError`), at
    most ``_CONFLICT_ATTEMPTS`` runs; then the caller sees the
    conflict."""
    for attempt in range(_CONFLICT_ATTEMPTS):
        try:
            return run(manifest)
        except ConcurrentWriteError:
            if attempt == _CONFLICT_ATTEMPTS - 1:
                raise
            manifest = _read_manifest(table_dir, fs)
            if manifest is None:
                raise


def _matched_files(addr_df: DataFrame, files) -> List[str]:
    """The manifest refs among ``files`` holding a row of ``addr_df``
    (a row-address frame, :func:`_read_files_with_pos`): one distinct
    collect of file URIs, O(matched files)."""
    uris = [r[0] for r in addr_df.select("_fp").distinct().collect()]
    return sorted(
        {rel for rel in (_rel_of(u, files) for u in uris) if rel is not None}
    )


def delete_publish(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    lease_ttl_ms: int = 300_000,
    point: Optional[dict] = None,
    delete_vectors: bool = False,
) -> Optional[int]:
    """Targeted row deletion with snapshot isolation — the GDPR-erasure
    / retention-enforcement primitive: delete every row matching the
    SQL ``condition`` and commit the result as the next version. On a
    hive-partitioned table only the partitions that actually CONTAIN
    matches are rewritten (found with one partition-pruned scan);
    everything else carries by reference — erasing one user from a
    100 TB table costs the bytes of the partitions they appear in. The
    pre-delete snapshot stays readable until ``vacuum`` (real erasure =
    delete + vacuum(keep=1), which the reference-aware GC makes safe).
    Unpartitioned tables fall back to a filtered full republish.
    Returns the committed version, or None when nothing matched.

    ``point`` = ``{col: value}`` (equality predicates implied by
    ``condition``) switches to the INDEXED file-granular path: bloom/
    stats skipping shrinks the scan to candidate files, and only the
    files actually containing matches are rewritten (see
    :func:`replace_files_publish`) — the GDPR shape at 100 TB.

    ``delete_vectors=True`` switches to MERGE-ON-READ: instead of
    rewriting any file, the matching rows' (file, position) addresses
    are recorded as the snapshot's delete vectors and readers mask them
    out — erasing one row from a 128 MB file costs one metadata commit,
    zero data IO (physical erasure happens at the next ``compact``/
    rewrite of that file, or ``vacuum`` after it). Composes with
    ``point`` for bloom-pruned candidate selection. The known public
    design: Iceberg v2 position deletes / Delta deletion vectors."""
    from pyspark.sql import functions as F

    fs = _fs_for(table_dir, spark)
    # OPTIMISTIC: find-matches + rewrite run without the lease; the
    # commit-time rebase in replace_partitions_publish raises if a
    # concurrent commit touched one of the partitions being rewritten
    # (so a concurrent append into a touched partition can never be
    # silently dropped), and merges cleanly with commits on other
    # partitions — streaming ingest keeps flowing during a GDPR erase.
    # The manifest read below is the ONE snapshot both the find-matches
    # plan and (via _base=) the commit baseline use.
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("delete_publish: no committed table here")
    parts = manifest.get("partition_by") or []
    if delete_vectors:
        # dv deletes COMMUTE semantically (erasing a row twice is a
        # no-op), so a lost optimistic race retries against the fresh
        # snapshot automatically — bounded, then the caller sees the
        # conflict (same policy Delta applies to commutable commits)
        return _retry_on_conflict(
            fs, table_dir, manifest,
            lambda m: _dv_delete(
                spark, fs, table_dir, m, condition, point, lease_ttl_ms
            ),
        )
    if point:
        # INDEXED point delete: ``point`` = {col: value} names equality
        # predicates IMPLIED by ``condition`` (caller's contract — e.g.
        # condition="user_id = 4", point={"user_id": 4}). Per-file
        # blooms/stats shrink the candidate set WITHOUT opening files;
        # one masked scan of the candidates finds the files actually
        # holding live matches (a row a delete vector already erased
        # matches nothing); only THOSE files are rewritten (file-
        # granular replace). Erasing one user costs a few file opens +
        # a few file rewrites, not a partition — or table — rewrite.
        # Conservative: unindexed files stay candidates.
        res = _resolve_entry(fs, table_dir, manifest)
        candidates = _prune_eq(res, res["files"], point)
        if not candidates:
            return None
        dv0 = _load_dv(fs, table_dir, manifest)
        evo = _evo_of(manifest, res)
        matched = _matched_files(
            _read_files_with_pos(
                spark, fs, table_dir, candidates, manifest["schema"],
                bool(parts), evo=evo, dv=dv0,
            ).where(condition),
            candidates,
        )
        if not matched:
            return None
        # the surviving rows come from the MASKED read — rewriting a
        # file that already carries a delete vector must not resurrect
        # its dv'd rows
        kept = _read_files(
            spark, fs, table_dir, matched, manifest["schema"],
            bool(parts), dv=dv0, evo=evo,
        ).where(_keep_pred(condition))
        return replace_files_publish(
            kept, table_dir, matched, lease_ttl_ms=lease_ttl_ms,
            bloom_cols=list(point), _base=manifest,
        )
    if not parts:
        # unpartitioned fallback is a FULL rewrite — it cannot rebase,
        # so it holds the lease across read+republish like compact()
        with _Lease(fs, table_dir, ttl_ms=lease_ttl_ms) as lease:
            cur = read_published(spark, table_dir)
            kept = cur.where(_keep_pred(condition))
            # commit only if something matched: one count, small side
            n_del = cur.where(condition).count()
            if n_del == 0:
                return None
            return atomic_publish(
                kept, table_dir, _lease=lease, operation="delete"
            )
    res = _resolve_entry(fs, table_dir, manifest)
    cur = _read_files(
        spark, fs, table_dir, res["files"], manifest["schema"], True,
        dv=_load_dv(fs, table_dir, manifest), evo=_evo_of(manifest, res),
    )
    pc = parts[0]
    touched = [
        r[0]
        for r in cur.where(condition).select(pc).distinct().collect()
    ]
    if not touched:
        return None
    kept_touched = cur.where(F.col(pc).isin(touched)).where(
        _keep_pred(condition)
    )
    return replace_partitions_publish(
        kept_touched, table_dir, values=touched, partition_col=pc,
        lease_ttl_ms=lease_ttl_ms, _base=manifest, operation="delete",
    )


def update_publish(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    set: Dict[str, str],
    point: Optional[dict] = None,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
    delete_vectors: bool = True,
) -> Optional[int]:
    """Row-level UPDATE with snapshot isolation — Delta's
    ``update(condition, set)`` counterpart, MERGE-ON-READ by default:
    the matching rows' (file, position) addresses fold into the
    snapshot's delete vectors and the post-``set`` rows append as the
    commit's new files — ONE commit, zero pre-existing files rewritten
    (physical fold happens at the next ``compact``). ``set`` maps
    column name → SQL expression evaluated against the matched row
    (``{"v": "v + 1"}``);
    each result casts back to the column's declared type, so the table
    schema never drifts. Updating a hive PARTITION column is legal —
    the replacement row simply lands in its new partition directory
    while the address mask hides the old one. Returns the committed
    version, or None when nothing matched.

    ``delete_vectors=False`` switches to COPY-ON-WRITE: only the files
    that CONTAIN matches are rewritten in place (unmatched rows of
    those files carry into the rewrite, every other file carries by
    reference — :func:`replace_files_publish`), leaving the new
    snapshot dv-free for those files. Pick it for updates dense enough
    that the read-time dv mask would cost more than the rewrite —
    Delta's UPDATE default; the MOR default here matches this table
    format's delete/merge posture.

    ``point`` = ``{col: value}`` (equality predicates implied by
    ``condition``) prunes candidate files via per-file blooms/stats
    before any data IO — the "fix one user's row in a 100 TB table"
    shape.

    Concurrency: optimistic like MERGE — scan and sidecar/file writes
    run without the lease; the commit-time rebase raises if a
    concurrent commit rewrote a matched file or changed its delete
    vectors. Unlike dv DELETE (commuting), a lost race re-RUNS the
    whole update against the fresh snapshot (bounded, 3 attempts):
    re-evaluating ``condition``+``set`` on the new state is the correct
    serialization, the same policy Delta applies to UPDATE.

    Scale: O(matched) data written; the only scans are over the
    (pruned) candidate files; addresses never touch the driver
    (:func:`_dv_build`). Constraints are enforced on the updated rows
    by the shared :func:`_mor_commit` observation."""
    from pyspark.sql import functions as F, types as T

    set_map = dict(set)
    if not set_map:
        raise ValueError("update_publish: empty SET map")
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("update_publish: no committed table here")

    def run(manifest: dict) -> Optional[int]:
        schema = T.StructType.fromJson(json.loads(manifest["schema"]))
        names = [f.name for f in schema.fields]
        unknown = sorted(c for c in set_map if c not in names)
        if unknown:
            raise ValueError(
                "update_publish: SET names unknown column(s) %s "
                "(schema: %s) — add columns via evolve/merge "
                "schema_evolution first" % (unknown, names)
            )
        parts = manifest.get("partition_by") or []
        res = _resolve_entry(fs, table_dir, manifest)
        candidates = (
            _prune_eq(res, res["files"], point) if point else res["files"]
        )
        if not candidates:
            return None
        dv0 = _load_dv(fs, table_dir, manifest)
        evo = _evo_of(manifest, res)
        # rows already dv-deleted must never match — an UPDATE that
        # re-emitted them would resurrect erased rows
        matched = _read_files_with_pos(
            spark, fs, table_dir, candidates, manifest["schema"],
            bool(parts), evo=evo, dv=dv0,
        ).where(condition)
        typed = {f.name: f.dataType for f in schema.fields}
        if not delete_vectors:
            # COPY-ON-WRITE: rewrite exactly the files that contain
            # matches; unmatched rows of those files carry into the
            # rewrite (masked — a file's dv'd rows must never
            # resurrect), everything else carries by reference
            mfiles = _matched_files(matched, candidates)
            if not mfiles:
                return None
            rw = _read_files(
                spark, fs, table_dir, mfiles, manifest["schema"],
                bool(parts), dv=dv0, evo=evo,
            )
            cond = F.expr(condition)
            out = rw.select(
                *[
                    (
                        F.when(cond, F.expr(set_map[c]).cast(typed[c]))
                        .otherwise(F.col(c))
                        .alias(c)
                        if c in set_map
                        else F.col(c)
                    )
                    for c in names
                ]
            )
            return replace_files_publish(
                out, table_dir, mfiles, lease_ttl_ms=lease_ttl_ms,
                stats_cols=stats_cols, bloom_cols=bloom_cols,
                _base=manifest, operation="update",
            )
        # both the post-SET write and the address build derive from
        # `matched` — persist the DELTA-sized frame so the candidate
        # files scan once, not twice (at 100 TB with a selective
        # condition the candidate scan is the dominant cost; `matched`
        # is O(updated rows) by definition)
        matched = matched.persist()
        addr = matched.select("_fp", "_ri")
        out = matched.select(
            *[
                (
                    F.expr(set_map[c]).cast(typed[c]).alias(c)
                    if c in set_map
                    else F.col(c)
                )
                for c in names
            ]
        )
        try:
            return _mor_commit(
                spark, fs, table_dir, manifest, addr, candidates,
                out, parts, lease_ttl_ms, stats_cols, bloom_cols,
                None, who="update_publish", operation="update",
            )
        finally:
            matched.unpersist()

    return _retry_on_conflict(fs, table_dir, manifest, run)


def replace_where_publish(
    df: DataFrame,
    table_dir: str,
    condition: str,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
) -> int:
    """Atomic predicate overwrite — Delta's ``replaceWhere``: in ONE
    commit, delete every row matching the SQL ``condition`` and insert
    ``df`` in their place. The backfill primitive: recompute one day /
    one source / one experiment slice and swap it in without touching
    the rest of the table or ever exposing a half-replaced state.

    Delta's safety rule is enforced: every ``df`` row must itself
    satisfy ``condition`` (a backfill that writes outside its declared
    slice would silently clobber — raises ValueError instead). Only
    the files that CONTAIN matches are rewritten; their non-matching
    rows carry into the rewrite (masked — dv'd rows never resurrect),
    every other file carries by reference. When no existing row
    matches, the commit is a pure insert of ``df``.

    Concurrency: optimistic — commits land concurrently with appends
    and disjoint rewrites; a racing commit that touched a targeted file
    re-runs the whole replace against the fresh snapshot (bounded, 3
    attempts), which re-evaluates ``condition`` — the correct
    serialization for an overwrite.

    Scale: O(matched files) rewritten + O(df); the discovery scan is
    predicate-pushed, so a ``condition`` on a partition or clustered
    column scans only its slice. ``df`` is evaluated once for the
    out-of-slice guard and once per attempt for the write — persist or
    localCheckpoint an expensive recompute before passing it in."""
    spark = df.sparkSession
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("replace_where_publish: no committed table here")
    stray = df.where(_keep_pred(condition)).limit(1).collect()
    if stray:
        raise ValueError(
            "replace_where_publish: df contains row(s) outside the "
            "condition %r (first: %s) — a backfill must stay inside "
            "its declared slice" % (condition, stray[0])
        )

    def run(manifest: dict) -> int:
        parts = manifest.get("partition_by") or []
        res = _resolve_entry(fs, table_dir, manifest)
        dv0 = _load_dv(fs, table_dir, manifest)
        evo = _evo_of(manifest, res)
        aligned = _align_to(df, manifest["schema"])
        mfiles = _matched_files(
            _read_files_with_pos(
                spark, fs, table_dir, res["files"], manifest["schema"],
                bool(parts), evo=evo, dv=dv0,
            ).where(condition),
            res["files"],
        )
        if not mfiles:
            return append_publish(
                aligned, table_dir, lease_ttl_ms=lease_ttl_ms,
                stats_cols=stats_cols, bloom_cols=bloom_cols,
            )
        kept = _read_files(
            spark, fs, table_dir, mfiles, manifest["schema"],
            bool(parts), dv=dv0, evo=evo,
        ).where(_keep_pred(condition))
        return replace_files_publish(
            kept.unionByName(aligned), table_dir, mfiles,
            lease_ttl_ms=lease_ttl_ms, stats_cols=stats_cols,
            bloom_cols=bloom_cols, _base=manifest,
            operation="replace_where",
        )

    return _retry_on_conflict(fs, table_dir, manifest, run)


def _dv_delete(
    spark: SparkSession,
    fs,
    table_dir: str,
    manifest: dict,
    condition: str,
    point: Optional[dict],
    lease_ttl_ms: int,
) -> Optional[int]:
    """The merge-on-read delete behind ``delete_publish(delete_vectors=
    True)``: record matching rows' (file, position) addresses as the
    next snapshot's delete vectors — ZERO data files written or
    rewritten. One scan of the (bloom-pruned) candidates finds the
    addresses and folds them, DISTRIBUTIVELY, into executor-written
    parquet sidecars (:func:`_dv_build` — a predicate delete matching
    billions of rows never materializes a position on the driver); the
    commit is a manifest swap citing the per-file refs. Optimistic like
    every publish: the scan and sidecar write run without the lease; at
    commit time a concurrent commit rebases iff it kept schema/layout,
    every dv'd file is still live, and no concurrent commit changed a
    touched file's vectors (that raises re-run — the sidecar union was
    built against the base state)."""
    parts = manifest.get("partition_by") or []
    res = _resolve_entry(fs, table_dir, manifest)
    candidates = (
        _prune_eq(res, res["files"], point) if point else res["files"]
    )
    if not candidates:
        return None
    addr = (
        _read_files_with_pos(
            spark, fs, table_dir, candidates, manifest["schema"],
            bool(parts), evo=_evo_of(manifest, res),
        )
        .where(condition)
        .select("_fp", "_ri")
    )
    return _mor_commit(
        spark, fs, table_dir, manifest, addr, candidates, None, parts,
        lease_ttl_ms, None, None, None, who="delete_publish(dv)",
        operation="delete",
    )


def replace_files_publish(
    df: DataFrame,
    table_dir: str,
    replace_files,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
    _base: Optional[dict] = None,
    operation: str = "replace_files",
) -> int:
    """FILE-granular rewrite (the merge-on-read compaction primitive
    under a copy-on-write commit): the next version drops exactly
    ``replace_files`` and adds ``df``'s files — every other file
    carries by reference. This is what makes an indexed point delete
    cheap: :func:`delete_publish` with ``point=`` rewrites only the
    files that CONTAIN matches, not whole partitions.

    Optimistic like replace_partitions_publish: the write runs with no
    lease; at commit, if the table moved, the rebase succeeds iff every
    file being replaced is still live (nobody compacted or rewrote it
    meanwhile) — concurrent appends and disjoint rewrites merge
    cleanly, a conflicting rewrite raises."""
    fs = _fs_for(table_dir, df.sparkSession)
    prev = _base if _base is not None else _read_manifest(table_dir, fs)
    if prev is None:
        raise ValueError("replace_files_publish: no committed table here")
    replace_set = set(replace_files)
    missing = replace_set - set(_entry_files(fs, table_dir, prev))
    if missing:
        raise ValueError(
            "replace_files_publish: not live in the current snapshot: %s"
            % sorted(missing)[:5]
        )
    # NO _pt_rebalance here: replace_files callers (point deletes,
    # copy-on-write updates) hand in a frame whose partitioning IS
    # the deliberate output layout; a rebalance by partition cols
    # would collapse it
    return _replace_publish(
        _materialize_partition_cols(df, prev.get("partition_spec")),
        fs, table_dir, prev, replace_set, "replace_files_publish",
        lease_ttl_ms, stats_cols, bloom_cols, operation,
    )
