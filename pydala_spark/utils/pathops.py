"""Filesystem-agnostic path operations through Hadoop's FileSystem API.

The maintenance/metadata layer needs exists/list/rename/copy/delete plus
small-text sidecar IO on any scheme the Spark conf resolves (s3a://,
gs://, abfs://, ...), so they go through ``FileSystem.get`` via
``spark._jvm`` — the reference gets the same from fsspec
(src/pydala/filesystem/fs.py:7-139). They are driver-side METADATA
operations: cost scales with file counts, not bytes, except
``copy_tree`` (TimeFly's copy-on-snapshot backend), a real byte copy.

Every in-place rewrite and every TimeFly move into or out of
``current/`` (copy and pointer restore, ``create_current``) commits
through ONE journaled step, :meth:`PathOps.commit_stage`; after a crash
at any step, :meth:`PathOps.recover` (run by the next mutation of that
target) leaves it reading as exactly its before or after state. That
needs atomic renames (local, HDFS). Every write that replaces a
dataset's files reaches it through one rewrite step,
``dataset.maintain._Rewrite``, which alone calls it for dataset data:
``compact``, ``recluster``, ``Writer.unify_schema``, in-place
``Repartition``, and ``Writer.write``'s overwrite, overwrite_partitions,
upsert and every directory-flavor write (its hive dirs become bare ones
inside the stage). The sweeps' staged tables, the IVF index's cell
removal and the TimeFly moves call it directly. Off the step, and why:

- Appends and delta appends add files through Spark's own job commit:
  a failed job leaves nothing behind, and staging them would cost about
  70 ms per commit on a 4-vCPU VM (``local[4]``, 3 files into a 56-file
  dataset: listing the stage 26 ms, ``commit_stage`` 40 ms, the refresh
  1 ms), about 5% of a perfbench ``lake_ingest`` delta commit.
- ``swap="generation"``: on object stores rename is copy+delete, so it
  commits one pointer PUT instead.
- The distributed feather commit: ``write_feather_dataset`` promises a
  rollback to the old data, which a forward-only replay cannot give.
- ``normalize_filenames`` and ``Datalake.remove_dataset``'s sidecar
  rename: one atomic rename per file, so a crash leaves valid data and
  a rerun converges.
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import SparkSession

COMMIT_JOURNAL = "_commit.json"  # hidden from Spark and data_files
PARK_SUFFIX = "__parked"


def _visible(names: list[str]) -> list[str]:
    return [n for n in names if not n.startswith(("_", "."))]


def _survives(target: str, stage: str, park: str) -> bool:
    """Whether a commit's stage is a source kept past it."""
    return stage == park or target.startswith(stage + "/")


class PathOps:
    """Thin wrapper over one resolved ``org.apache.hadoop.fs.FileSystem``."""

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self.fs = self._Path(path).getFileSystem(self._conf)

    def _p(self, path: str):
        return self._Path(path)

    # -- probes -----------------------------------------------------------------

    def exists(self, path: str) -> bool:
        return self.fs.exists(self._p(path))

    def is_dir(self, path: str) -> bool:
        return self.fs.exists(self._p(path)) and self.fs.getFileStatus(
            self._p(path)
        ).isDirectory()

    def is_file(self, path: str) -> bool:
        return self.fs.exists(self._p(path)) and self.fs.getFileStatus(
            self._p(path)
        ).isFile()

    # -- listings ---------------------------------------------------------------

    def list_files(self, path: str, recursive: bool = True) -> list[tuple[str, int]]:
        """(path, bytes) for every file under ``path`` (no directories)."""
        if not self.exists(path):
            return []
        out = []
        it = self.fs.listFiles(self._p(path), recursive)
        while it.hasNext():
            st = it.next()
            out.append((strip_scheme(st.getPath().toString()), st.getLen()))
        return out

    def data_files(self, path: str) -> list[tuple[str, int]]:
        """Like :meth:`list_files`, skipping sidecars/markers (leading
        ``_`` or ``.`` in any path component under ``path``)."""
        base = strip_scheme(path).rstrip("/")
        # listings come back QUALIFIED (absolute, scheme-resolved); a
        # relative ``path`` (or a scheme-less one against a non-local
        # defaultFS) would never prefix-match them, making rel the full
        # absolute path — the hidden-segment filter would then run over
        # every ANCESTOR directory (a dataset under /root/.cache/...
        # would list as empty). Resolve rel against the qualified form
        # when the raw prefix misses; returned paths stay joined on the
        # caller's base so caller-side len(base) slicing keeps working.
        qualified = strip_scheme(
            self.fs.makeQualified(self._p(path)).toString()
        ).rstrip("/")
        out = []
        for p, sz in self.list_files(path):
            if p.startswith(base):
                rel = p[len(base):].lstrip("/")
            elif p.startswith(qualified):
                rel = p[len(qualified):].lstrip("/")
            else:
                rel = p
            if rel == "":  # ``path`` IS a file: emit it as-is (joining
                out.append((base, sz))  # "" would append a bogus slash)
                continue
            parts = rel.split("/")
            if any(seg.startswith(("_", ".")) for seg in parts):
                continue
            out.append((posixpath.join(base, rel), sz))
        return out

    def list_dir(self, path: str) -> list[str]:
        """Immediate child names (files and directories)."""
        if not self.exists(path):
            return []
        return [st.getPath().getName() for st in self.fs.listStatus(self._p(path))]

    # -- mutations --------------------------------------------------------------

    def mkdirs(self, path: str) -> None:
        self.fs.mkdirs(self._p(path))

    def delete(self, path: str, recursive: bool = True) -> bool:
        if not self.exists(path):
            return False
        return self.fs.delete(self._p(path), recursive)

    def rename(self, src: str, dst: str) -> None:
        """Move ``src`` to ``dst`` (parent dirs created). On object stores
        this is copy+delete under the hood — not atomic."""
        parent = self._p(dst).getParent()
        if parent is not None:
            self.fs.mkdirs(parent)
        if not self.fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def copy_file(self, src: str, dst: str) -> None:
        """Single-file copy, src preserved (parent dirs created). Used by
        the generation carry-forward: cost ∝ straggler bytes only."""
        FileUtil = self._jvm.org.apache.hadoop.fs.FileUtil
        parent = self._p(dst).getParent()
        if parent is not None:
            self.fs.mkdirs(parent)
        if not FileUtil.copy(
            self.fs, self._p(src), self.fs, self._p(dst), False, self._conf
        ):
            raise OSError(f"copy failed: {src} -> {dst}")

    def copy_tree(self, src: str, dst: str) -> None:
        """Recursive copy (a real byte copy — snapshot backend only)."""
        FileUtil = self._jvm.org.apache.hadoop.fs.FileUtil
        if not FileUtil.copy(
            self.fs, self._p(src), self.fs, self._p(dst), False, self._conf
        ):
            raise OSError(f"copy failed: {src} -> {dst}")

    def put_file(self, local_src: str, dst: str) -> None:
        """Upload one LOCAL file to this PathOps' filesystem (parent
        dirs created, destination overwritten) — the driver-bridge
        upload half of a write-local-temp-then-PUT pattern."""
        parent = self._p(dst).getParent()
        if parent is not None:
            self.fs.mkdirs(parent)
        self.fs.copyFromLocalFile(False, True, self._p(local_src), self._p(dst))

    def get_file(self, src: str, local_dst: str) -> None:
        """Download one file from this PathOps' filesystem to a LOCAL
        path (the GET half of the driver bridge)."""
        self.fs.copyToLocalFile(False, self._p(src), self._p(local_dst), True)

    # -- the staged-rewrite commit -------------------------------------------------

    def commit_stage(self, target: str, stage: str,
                     entries: list[str] | None = None, park: str | None = None):
        """Swap the complete staged output ``stage`` into ``target``:
        ``entries`` (target-relative dirs or files, e.g. touched
        ``col=value`` dirs; ``None`` = every visible top-level entry of
        either side) are parked under ``park`` (default: a ``__parked``
        sibling dropped at the end; a caller-named park, the TimeFly
        archive, is kept and merged into) and replaced by their staged
        copies. Target sidecars (``_``/``.`` entries) stay put unless
        ``entries`` names them (then dropped, never kept in a park).
        Stray staged data is refused before the ``_commit.json`` journal
        is written; after it, any crash is finished forward by
        :meth:`recover`. A stage that is the park (the pointer restore's
        archive) or an ancestor of ``target`` (``create_current``'s
        dataset root) holds data outside ``entries``: it skips the stray
        check and survives the commit. Cost: one journal write + delete,
        two probes and up to two renames per entry."""
        target = strip_scheme(target).rstrip("/")
        stage = strip_scheme(stage).rstrip("/")
        keep_park = park is not None
        park = strip_scheme(park or target + PARK_SUFFIX).rstrip("/")
        journal = posixpath.join(target, COMMIT_JOURNAL)
        if self.exists(journal):
            raise RuntimeError(f"an earlier commit into {target!r} is "
                               "unfinished; recover() it before restaging")
        if entries is None:
            staged = set(_visible(self.list_dir(stage)))
            entries = sorted(staged | set(_visible(self.list_dir(target))))
        else:
            staged = {rel for rel in entries
                      if self.exists(posixpath.join(stage, rel))}
            if stage == park:  # a target entry goes out, whatever the park holds
                staged = {rel for rel in staged
                          if not self.exists(posixpath.join(target, rel))}
            # a staged partition named differently than the caller's
            # entries (value escaping/formatting) would be dropped
            prefixes = tuple(posixpath.join(stage, rel) + "/" for rel in entries)
            stray = [] if _survives(target, stage, park) else [
                p for p, _ in self.data_files(stage)
                if not (p + "/").startswith(prefixes)]
            if stray:
                raise RuntimeError(
                    f"commit into {target!r}: staged file(s) {stray[:3]} lie outside "
                    f"the entries to replace; staged data preserved at {stage!r}")
        record = {"stage": stage, "keep_park": keep_park, "park": park,
                  "entries": [[rel, rel in staged] for rel in entries]}
        self.write_text(journal, json.dumps(record))
        self._replay(target, record)

    def recover(self, target: str) -> None:
        """Finish an interrupted :meth:`commit_stage` into ``target`` by
        replaying its journal forward. Every mutation of a target calls
        this before reading or staging (one probe when none is pending)."""
        target = strip_scheme(target).rstrip("/")
        journal = posixpath.join(target, COMMIT_JOURNAL)
        if not self.exists(journal):
            return
        try:
            record = json.loads(self.read_text(journal))
        except ValueError:  # a torn journal write: no move ran after it
            self.delete(journal)
            return
        self._replay(target, record)

    def _replay(self, target: str, record: dict) -> None:
        stage, park = record["stage"], record["park"]
        keep_park = record["keep_park"]
        for rel, in_stage in record["entries"]:
            src, dst = posixpath.join(stage, rel), posixpath.join(target, rel)
            if in_stage and not self.exists(src):
                continue  # already moved in
            if self.exists(dst):
                if not keep_park:
                    self.rename(dst, posixpath.join(park, rel))
                elif rel.startswith(("_", ".")):
                    self.delete(dst)  # a kept park (the archive) holds data only
                else:
                    self._merge_move(dst, posixpath.join(park, rel))
            if in_stage:
                self.rename(src, dst)
        if not _survives(target, stage, park):
            self.delete(stage)
        if not keep_park:
            self.delete(park)
        self.delete(posixpath.join(target, COMMIT_JOURNAL))

    def _merge_move(self, src: str, dst: str) -> None:
        """``rename``, merging into ``dst`` when it is already a directory
        (renaming onto one would nest ``src`` inside it) and replacing a
        same-named file there (a byte copy: archive names identify files,
        and a rename onto an existing file fails)."""
        if self.is_dir(dst) and self.is_dir(src):
            for name in self.list_dir(src):
                self._merge_move(posixpath.join(src, name), posixpath.join(dst, name))
            self.delete(src)
        else:
            if self.is_file(dst):
                self.delete(dst)
            self.rename(src, dst)

    # -- small-text sidecar IO ---------------------------------------------------

    def read_text(self, path: str) -> str:
        IOUtils = self._jvm.org.apache.commons.io.IOUtils
        stream = self.fs.open(self._p(path))
        try:
            return IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        parent = self._p(path).getParent()
        if parent is not None:
            self.fs.mkdirs(parent)
        stream = self.fs.create(self._p(path), True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()


def strip_scheme(path: str) -> str:
    """``file:/tmp/x`` / ``file:///tmp/x`` -> ``/tmp/x``; other schemes
    are preserved (s3a://bucket/k stays addressable)."""
    if path.startswith("file:"):
        rest = path[len("file:"):]
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    return path


#: the characters Hive/Spark escape when writing partition directory
#: names (ExternalCatalogUtils.escapePathName) — control chars plus
#: the filesystem/URI-significant set
_PARTITION_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^')


def escape_partition_value(value: str) -> str:
    """Escape a partition VALUE the way Spark escapes it when writing
    ``col=value`` directories (round 10): a hand-built
    ``f"dataset={name}"`` path only matches the directory Spark
    actually wrote when the name contains no escaped characters — a
    delete against the raw name would otherwise silently miss and
    leak the partition. Mirrors Hive's ``FileUtils.escapePathName``:
    control characters and the significant set escape to ``%XX``."""
    out = []
    for ch in value:
        if ch in _PARTITION_ESCAPE or ord(ch) < 0x20:
            out.append(f"%{ord(ch):02X}")
        else:
            out.append(ch)
    return "".join(out)
