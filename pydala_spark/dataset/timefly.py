"""TimeFly: snapshot-based time travel for plain-parquet datasets.

Reference parity (src/pydala/dataset/timefly.py): live data lives under
``<base>/current/``, snapshots under ``<base>/snapshot/<YYYYMMDD_HHMMSS>/``,
tracked in a sidecar manifest (the reference uses ``_dataset.toml``,
timefly.py:50; we write ``_dataset.json`` — same content, no TOML
None-sanitization quirk needed, SURVEY §2.10 M6 — and fall back to
reading ``_dataset.toml`` for reference-written datasets).

Semantics reproduced:

- ``create_current`` migrates root data files into ``current/``
  (timefly.py:150-174, 488-507)
- ``add_snapshot`` copies current -> snapshot/<ts> and appends to the
  ``available`` history (timefly.py:246-310)
- ``load_snapshot`` restores a snapshot into current (timefly.py:354-387)
- ``delete_snapshot`` moves the ts to the ``deleted`` list
- snapshot resolution: the **earliest snapshot strictly after** the
  requested timestamp, ``None`` -> current (timefly.py:337-352 — note this
  is the opposite rounding of Delta Lake's ``timestampAsOf``, which picks
  the latest version <= ts; SURVEY §2.10 M8). ``resolve(..., rounding=
  "latest_before")`` gives the Delta-style behavior when wanted.

All file operations go through the Hadoop FileSystem
(``utils.pathops``), so the snapshot layout works on any scheme the
Spark conf resolves, not just local POSIX (the reference gets this from
fsspec, src/pydala/filesystem/fs.py:7-139). Copy-on-snapshot is a real
byte copy; at object-store scale prefer a transactional table format, or
bound the amplification with :meth:`vacuum` (SCALE.md). Schema/property
inference for the manifest reads parquet footers via pyarrow and is
skipped on non-local schemes.
"""

from __future__ import annotations

import datetime as dt
import json
import posixpath

from pyspark.sql import DataFrame, SparkSession

from pydala_spark import sources
from pydala_spark.session import configure_session
from pydala_spark.utils.pathops import COMMIT_JOURNAL, PathOps, strip_scheme

TS_FMT = "%Y%m%d_%H%M%S"
#: a TimeFly base's config (the reference's TOML is read, and written
#: only with ``sidecar_format="toml"``); ``Datalake`` discovers datasets
#: by these names too
DATASET_CONFIG = "_dataset.json"
TOML_DATASET_CONFIG = "_dataset.toml"
CONFIG_NAMES = (DATASET_CONFIG, TOML_DATASET_CONFIG)
MANIFEST_SUFFIX = ".manifest.json"
DATA_EXTS = (".parquet", ".csv", ".json", ".feather", ".arrow", ".ipc",
             ".orc", ".csv.gz", ".json.gz")


def _to_ts(value: str | dt.datetime) -> dt.datetime:
    if isinstance(value, dt.datetime):
        return value
    value = value.strip()
    for fmt in (TS_FMT, "%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d"):
        try:
            return dt.datetime.strptime(value, fmt)
        except ValueError:
            continue
    raise ValueError(f"unparseable timestamp {value!r}")


def _has_config(ops: PathOps, base: str) -> bool:
    return any(ops.exists(posixpath.join(base, name)) for name in CONFIG_NAMES)


def dataset_dir(ops: PathOps, path: str) -> str:
    """The directory that holds the live files of the dataset at
    ``path``: ``<path>/current`` when ``path`` is a TimeFly base (it
    holds a ``current/`` directory and a TimeFly config), else ``path``
    unchanged. Requiring the config keeps a directory-flavor partition
    named ``current`` from passing for the layout; before
    :meth:`TimeFly.create_current` no ``current/`` exists, so root writes
    still land at the root for it to migrate. One ``is_dir`` probe, plus
    the config probe only when ``current/`` exists."""
    base = strip_scheme(path).rstrip("/")
    current = posixpath.join(base, "current")
    return current if ops.is_dir(current) and _has_config(ops, base) else path


def open_dirs(spark: SparkSession, path: str) -> tuple[str, str]:
    """``(dataset directory, live directory)`` of ``path``, the one way
    every reader, writer and rewrite opens a dataset: a TimeFly base
    opens at its ``current/`` (:func:`dataset_dir`), then a generation
    pointer there names its active generation
    (:func:`~pydala_spark.dataset.generations.resolve`)."""
    from pydala_spark.dataset import generations

    ds_dir = dataset_dir(PathOps(spark, path), path)
    return ds_dir, generations.resolve(spark, ds_dir)


def timefly_base(ops: PathOps, live_dir: str) -> str | None:
    """The TimeFly base whose ``current/`` is ``live_dir``, else
    ``None``. Probes the config only for a directory named ``current``."""
    base, name = posixpath.split(strip_scheme(live_dir).rstrip("/"))
    return base if name == "current" and _has_config(ops, base) else None


def archive_for(ops: PathOps, live_dir: str) -> str | None:
    """Where a rewrite of ``live_dir`` parks the files it replaces:
    ``<base>/snapshot/archive`` when ``live_dir`` is a TimeFly
    ``<base>/current`` that pointer manifests reference (they may list
    those files), else ``None`` (the commit drops them). One listing of
    ``snapshot/`` for a TimeFly ``current/``, none otherwise."""
    base = timefly_base(ops, live_dir)
    if base is None:
        return None
    snap = posixpath.join(base, "snapshot")
    if any(e.endswith(MANIFEST_SUFFIX) for e in ops.list_dir(snap)):
        return posixpath.join(snap, "archive")
    return None


class TimeFly:
    """Snapshot manager for one dataset rooted at ``base_path``.

    Two snapshot backends:

    - ``snapshot_mode="copy"`` (default, reference parity): snapshot =
      full copy of current/ under snapshot/<ts>/. Simple, works with any
      write pattern, but storage-amplifies by a full copy per snapshot.
    - ``snapshot_mode="pointer"``: snapshot = a manifest listing the
      data files live at snapshot time (snapshot/<ts>.manifest.json) —
      O(file count) metadata, zero byte copies. A manifest's files are
      resolved against current/ first, then a shared
      ``snapshot/archive/`` area. Whatever replaces files of a current/
      that manifests reference parks the replaced files there instead
      of deleting them (still zero copies; :func:`archive_for`): a
      restore of an older manifest, and every in-place rewrite of the
      package — compact, recluster, upsert, overwrite,
      overwrite_partitions, ``unify_schema``, in-place ``Repartition``
      (Delta Lake's rule: a removed file stays readable to older
      versions until vacuumed). A parked file stays in the archive until
      ``delete_snapshot`` (or :meth:`vacuum`) garbage-collects the files
      no remaining manifest references. A listed file deleted OUTSIDE
      the package (a plain Spark overwrite of current/) breaks the
      pointer: read and restore raise ``FileNotFoundError``. This is the
      100 TB-shaped backend (SCALE.md names copy-on-snapshot as the
      storage-amplification bound); both kinds can coexist on one
      dataset and reads dispatch on what exists on disk.

    Once ``current/`` exists, the base path can be passed to every
    reader, writer and rewrite of the package (``Dataset``, ``Writer``,
    ``compact``, ``recluster``, ``Repartition``, ``normalize_filenames``,
    ``Datalake``): each opens it at ``current/`` (:func:`open_dirs`), so
    none of them touches ``snapshot/``.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        format: str = "parquet",
        snapshot_mode: str = "copy",
        sidecar_format: str = "json",
    ):
        if snapshot_mode not in ("copy", "pointer"):
            raise ValueError("snapshot_mode must be 'copy' or 'pointer'")
        if sidecar_format not in ("json", "toml"):
            raise ValueError("sidecar_format must be 'json' or 'toml'")
        self.spark = configure_session(spark)
        self.base_path = strip_scheme(base_path).rstrip("/")
        self.format = format
        self.snapshot_mode = snapshot_mode
        #: "toml" additionally keeps _dataset.toml in sync on every config
        #: write, so reference tooling can keep reading a migrated lake's
        #: own sidecars (reference timefly.py:50); JSON stays canonical.
        self.sidecar_format = sidecar_format
        self.config_path = posixpath.join(self.base_path, DATASET_CONFIG)
        self.ops = PathOps(self.spark, self.base_path)

    # -- manifest --------------------------------------------------------------

    def read_config(self) -> dict:
        if self.ops.exists(self.config_path):
            return json.loads(self.ops.read_text(self.config_path))
        # read-only migration compat: a dataset written by the reference
        # carries a TOML sidecar (_dataset.toml, reference timefly.py:50);
        # writes stay JSON (_dataset.json)
        toml_path = posixpath.join(self.base_path, TOML_DATASET_CONFIG)
        if self.ops.exists(toml_path):
            import tomllib

            return tomllib.loads(self.ops.read_text(toml_path))
        return {}

    def write_config(self, config: dict) -> None:
        self.ops.write_text(self.config_path, json.dumps(config, indent=2, default=str))
        if self.sidecar_format == "toml":
            from pydala_spark.utils import tomlout

            self.ops.write_text(
                posixpath.join(self.base_path, TOML_DATASET_CONFIG),
                tomlout.dumps(config),
            )

    # -- layout ------------------------------------------------------------------

    @property
    def current_path(self) -> str:
        return posixpath.join(self.base_path, "current")

    def snapshot_path(self, ts: str) -> str:
        return posixpath.join(self.base_path, "snapshot", ts)

    def manifest_path(self, ts: str) -> str:
        return posixpath.join(self.base_path, "snapshot", ts + MANIFEST_SUFFIX)

    @property
    def archive_path(self) -> str:
        """Shared parking area for files replaced in current/ while
        pointer manifests exist (:func:`archive_for`; plain name, not
        ``_archive`` — Spark's file index hides underscore-prefixed path
        components)."""
        return posixpath.join(self.base_path, "snapshot", "archive")

    def _read_snapshot_manifest(self, ts: str) -> dict | None:
        mpath = self.manifest_path(ts)
        if self.ops.exists(mpath):
            return json.loads(self.ops.read_text(mpath))
        return None

    def _current_rel_datafiles(self) -> list[str]:
        base = self.current_path
        return [p[len(base):].lstrip("/") for p in self._current_datafiles()]

    def _rel_to_base(self, path: str) -> str:
        return path[len(self.base_path):].lstrip("/")

    def _datafiles_in_root(self) -> list[str]:
        """Data files sitting outside current/ and snapshot/ (to be
        migrated into current/ — reference timefly.py:488-507)."""
        found = []
        for p, _ in self.ops.data_files(self.base_path):
            rel = self._rel_to_base(p)
            head = rel.split("/", 1)[0]
            if head in ("current", "snapshot"):
                continue
            if rel.lower().endswith(DATA_EXTS):
                found.append(p)
        return found

    def new(self, save_config: bool = True) -> dict:
        """Initialize the manifest (reference timefly.py:130-148)."""
        config = {
            "dataset": {
                "name": posixpath.basename(self.base_path),
                "init": dt.datetime.utcnow().strftime(TS_FMT),
                "format": self.format,
            },
            "timefly": {"available": [], "deleted": []},
        }
        if save_config:
            self.write_config(config)
        return config

    def _current_datafiles(self) -> list[str]:
        return [
            p
            for p, _ in self.ops.data_files(self.current_path)
            if p.lower().endswith(DATA_EXTS)
        ]

    def _infer_current_properties(self) -> dict:
        """Dataset properties inferred from current/ files — the
        reference persists these in the snapshot config
        (timefly.py:176-217: format, compression, partitioning, schema +
        schema_unique). Footer reads go through pyarrow, so this is
        local-path-only; on other schemes the properties are omitted."""
        from pydala_spark import schema as schema_mod

        if "://" in self.current_path:
            return {}
        files = self._current_datafiles()
        if not files:
            return {}
        rels = [p[len(self.current_path):].lstrip("/") for p in files]
        props: dict = {
            "format": schema_mod.infer_format(rels),
            "partitioning": schema_mod.infer_partitioning(rels),
        }
        if props["format"] == "parquet":
            props["compression"] = schema_mod.infer_compression(files[0])
            unified, unique = schema_mod.get_unified_schema(
                sources.footer_schemas(files))
            props["schema"] = schema_mod.schema_to_dict(unified)
            props["schema_unique"] = unique
        return props

    def create_current(self, **properties) -> None:
        """Move root-level data files into ``current/`` and record the
        current metadata (reference timefly.py:150-217). The move is one
        journaled commit that the next mutation finishes after a crash."""
        self.ops.recover(self.current_path)
        self.ops.commit_stage(self.current_path, self.base_path, entries=[
            self._rel_to_base(p) for p in self._datafiles_in_root()])
        # sweep spark markers and emptied partition-dir shells off the root
        for p, _ in self.ops.list_files(self.base_path):
            rel = self._rel_to_base(p)
            if rel.split("/", 1)[0] in ("current", "snapshot"):
                continue
            name = posixpath.basename(rel)
            if name == "_SUCCESS" or name.endswith(".crc"):
                self.ops.delete(p)
        for entry in self.ops.list_dir(self.base_path):
            if entry in ("current", "snapshot"):
                continue
            full = posixpath.join(self.base_path, entry)
            if self.ops.is_dir(full) and not self.ops.list_files(full):
                self.ops.delete(full)
        config = self.read_config() or self.new(save_config=False)
        now = dt.datetime.utcnow().strftime(TS_FMT)
        current = {"created": now, "comment": "initialized", "latest_update": now}
        current.update(self._infer_current_properties())
        current.update(properties)
        config.setdefault("current", {}).update(current)
        self.write_config(config)

    def update_current(self, **properties) -> None:
        """Merge properties + refreshed inference into the current
        metadata (reference ``update_current``, timefly.py:219-237)."""
        config = self.read_config()
        if "current" not in config or not self.ops.is_dir(self.current_path):
            self.create_current(**properties)
            return
        config["current"].update(self._infer_current_properties())
        config["current"].update(properties)
        config["current"]["latest_update"] = dt.datetime.utcnow().strftime(TS_FMT)
        self.write_config(config)

    # -- snapshots ------------------------------------------------------------------

    def snapshots(self, include_deleted: bool = False) -> list[str]:
        config = self.read_config()
        timefly = config.get("timefly", {})
        out = list(timefly.get("available", []))
        if include_deleted:
            out += list(timefly.get("deleted", []))
        return sorted(out)

    def _stamp_taken(self, s: str) -> bool:
        return self.ops.exists(self.snapshot_path(s)) or self.ops.exists(
            self.manifest_path(s)
        )

    def _fresh_stamp(self, ts: dt.datetime | None) -> str:
        """Format ``ts`` (or now) as a stamp; auto stamps landing on a
        taken second bump forward instead of failing (back-to-back
        restores), explicit stamps raise once registered (an unregistered
        one is a crashed call's leftover, which the retry replaces)."""
        t = ts or dt.datetime.utcnow()
        ts_str = t.strftime(TS_FMT)
        if ts is not None and ts_str in self.snapshots():
            raise FileExistsError(f"snapshot {ts_str} already exists")
        while ts is None and self._stamp_taken(ts_str):
            t += dt.timedelta(seconds=1)
            ts_str = t.strftime(TS_FMT)
        return ts_str

    def _register_snapshot(self, ts_str: str) -> None:
        config = self.read_config() or self.new(save_config=False)
        config.setdefault("timefly", {}).setdefault("available", []).append(ts_str)
        self.write_config(config)

    def _write_pointer_manifest(self, ts_str: str, rels: list[str]) -> None:
        manifest = {"ts": ts_str, "files": sorted(rels)}
        self.ops.write_text(self.manifest_path(ts_str), json.dumps(manifest, indent=2))

    def add_snapshot(self, ts: dt.datetime | None = None) -> str:
        """Snapshot current/: a full copy under snapshot/<ts>/ (reference
        timefly.py:246-310), or with ``snapshot_mode="pointer"`` just a
        file-list manifest (no byte copies)."""
        if not self.ops.is_dir(self.current_path):
            self.create_current()
        self.ops.recover(self.current_path)  # never snapshot a half-swap
        ts_str = self._fresh_stamp(ts)
        if self.snapshot_mode == "pointer":
            self._write_pointer_manifest(ts_str, self._current_rel_datafiles())
        else:
            # a partial copy never sits at snapshot/<ts>: copy into a
            # hidden stage (dropping a crashed call's), then one rename
            stage = posixpath.join(self.base_path, "snapshot", "_adding")
            self.ops.delete(stage)
            self.ops.copy_tree(self.current_path, stage)
            self.ops.delete(self.snapshot_path(ts_str))  # unregistered leftover
            self.ops.rename(stage, self.snapshot_path(ts_str))
        self._register_snapshot(ts_str)
        return ts_str

    def delete_snapshot(self, ts: str | dt.datetime) -> None:
        """Tombstone + physical delete (copy dir and/or pointer manifest).
        Files a deleted pointer parked in the archive are garbage-
        collected once no remaining manifest references them; files
        still live in current/ are never touched."""
        ts_str = ts if isinstance(ts, str) else ts.strftime(TS_FMT)
        was_pointer = self.ops.exists(self.manifest_path(ts_str))
        self.ops.delete(self.snapshot_path(ts_str))
        self.ops.delete(self.manifest_path(ts_str))
        config = self.read_config()
        timefly = config.setdefault("timefly", {})
        if ts_str in timefly.get("available", []):
            timefly["available"].remove(ts_str)
        timefly.setdefault("deleted", []).append(ts_str)
        self.write_config(config)
        if was_pointer:
            self._gc_archive()

    def _gc_archive(self) -> int:
        """Delete archive files referenced by no remaining manifest.
        O(total manifest entries) driver-side metadata work — the same
        shape as a table format's expire-snapshots pass."""
        if not self.ops.is_dir(self.archive_path):
            return 0
        referenced: set[str] = set()
        for s in self.snapshots():
            manifest = self._read_snapshot_manifest(s)
            if manifest is not None:
                referenced.update(manifest["files"])
        base = self.archive_path
        dropped = 0
        for p, _ in self.ops.data_files(base):
            rel = p[len(base):].lstrip("/")
            if rel not in referenced:
                self.ops.delete(p)
                dropped += 1
        return dropped

    def vacuum(
        self,
        older_than: str | dt.datetime | None = None,
        retain_last: int | None = None,
    ) -> list[str]:
        """Physically delete old snapshots (Delta-style ``VACUUM`` for the
        copy-on-snapshot layout; the reference keeps every snapshot
        forever — timefly.py:313-326 only tombstones one at a time).

        ``older_than`` drops snapshots taken at or before that time;
        ``retain_last=N`` always keeps the newest N regardless. With
        neither given, keeps the newest one. Returns deleted stamps.
        At 100 TB this is the knob that bounds storage amplification:
        each snapshot is a full copy until manifest-pointer snapshots
        replace it (SCALE.md).
        """
        stamps = self.snapshots()
        keep = set(stamps[-(retain_last or 1):]) if retain_last or older_than is None else set()
        if older_than is not None:
            cutoff = _to_ts(older_than)
            keep |= {
                s for s in stamps
                if dt.datetime.strptime(s, TS_FMT) > cutoff
            }
        doomed = [s for s in stamps if s not in keep]
        for s in doomed:
            self.delete_snapshot(s)
        return doomed

    def load_snapshot(self, ts: str | dt.datetime) -> None:
        """Restore a snapshot into current/ (reference timefly.py:354-387).
        The replaced current is itself snapshotted first so nothing is
        lost. The snapshot is the one :meth:`_lookup` names: an exact
        stamp before any rounding."""
        ts_str = self._lookup(ts)
        if ts_str == "current":
            return
        from pydala_spark.dataset.maintain import drop_signatures

        ts_key = ts_str.removeprefix("snapshot/")
        current = self.current_path
        self.ops.recover(current)
        manifest = self._read_snapshot_manifest(ts_key)
        if manifest is not None:
            # pointer restore — one journaled commit, no byte copies:
            # wanted files come in from the archive, unlisted ones are
            # parked there. The replaced current is kept as a manifest
            # first; every manifest stays readable at every step.
            cur, _, _ = self._locate(ts_key, manifest)
            want = set(manifest["files"])
            if cur != want:
                replaced = self._fresh_stamp(None)
                self._write_pointer_manifest(replaced, sorted(cur))
                self._register_snapshot(replaced)
                # current/'s data files change in place: its signature
                # sidecars go first, so a crash cannot skip that
                drop_signatures(self.ops, current)
                self.ops.commit_stage(current, self.archive_path,
                                      entries=sorted(want ^ cur),
                                      park=self.archive_path)
            return
        src = self.snapshot_path(ts_key)
        if not self.ops.is_dir(src):
            raise FileNotFoundError(f"snapshot {ts_str} not found")
        if self.ops.is_dir(current) and self.snapshot_mode == "pointer":
            # keep the replaced current as a manifest, whose files the
            # commit below then parks in the archive
            replaced = self._fresh_stamp(None)
            self._write_pointer_manifest(replaced, self._current_rel_datafiles())
            self._register_snapshot(replaced)
        elif self.ops.is_dir(current):
            self.add_snapshot()
        # the copy restore replaces current/ WHOLESALE, sidecars included:
        # if the snapshot carried `_signatures`, they describe exactly the
        # restored content; if not, none survive (only the POINTER restore
        # above needs explicit invalidation). Staged, then swapped in by
        # one journaled commit: a crash leaves current/ before or after,
        # and an unjournaled leftover stage (a partial copy) is dropped.
        # Replaced files go where every other rewrite's go: the archive
        # while pointer manifests exist, which may list them.
        stage = posixpath.join(self.base_path, "_restoring")
        self.ops.delete(stage)
        self.ops.copy_tree(src, stage)
        entries = set(self.ops.list_dir(stage) + self.ops.list_dir(current))
        self.ops.commit_stage(current, stage,
                              entries=sorted(entries - {COMMIT_JOURNAL}),
                              park=archive_for(self.ops, current))

    def _lookup(self, ts: str | dt.datetime | None,
                rounding: str = "earliest_after") -> str:
        """The subpath ``ts`` names. An EXACT registered stamp wins
        before any rounding: the reference's default usage is
        ``match='exact'`` (timefly.py:354), and routing the stamp
        :meth:`add_snapshot` returned through the strictly-after
        :meth:`resolve` rounding would skip that snapshot (and read or
        restore a later one). An unparseable string matches only as a
        registered stamp; otherwise :meth:`resolve` raises on it."""
        if ts is not None:
            want = ts if isinstance(ts, str) else ts.strftime(TS_FMT)
            try:
                want = _to_ts(want).strftime(TS_FMT)
            except ValueError:
                pass
            if want in self.snapshots():
                return f"snapshot/{want}"
        return self.resolve(ts, rounding)

    def _locate(self, ts: str,
                manifest: dict) -> tuple[set[str], list[str], list[str]]:
        """Resolve pointer manifest ``ts``'s files against TWO bulk
        listings, current/ then the archive, not one existence RPC per
        listed file (a 100k-file manifest on an object store would pay
        minutes of driver metadata latency). Returns current/'s data
        files and the listed files found in current/ and in the archive
        (all relative); raises when a listed file is in neither."""
        cur = set(self._current_rel_datafiles())
        arc = self.archive_path
        archived = {p[len(arc):].lstrip("/") for p, _ in self.ops.data_files(arc)}
        files = manifest["files"]
        missing = [r for r in files if r not in cur and r not in archived]
        if missing:
            raise FileNotFoundError(
                f"pointer snapshot {ts} references {len(missing)} file(s) in "
                f"neither current/ nor the snapshot archive (first: "
                f"{missing[0]!r}): they were deleted outside the package, "
                "whose rewrites park replaced files; other writers must "
                "keep pointer-snapshotted data append-only")
        return cur, [r for r in files if r in cur], [r for r in files if r not in cur]

    def resolve(
        self, timefly: str | dt.datetime | None, rounding: str = "earliest_after"
    ) -> str:
        """Map a requested timestamp to a dataset subpath.

        ``None`` -> ``"current"``. Default rounding picks the earliest
        snapshot strictly **after** the requested time (reference
        timefly.py:337-352); ``rounding="latest_before"`` gives
        Delta-style ``timestampAsOf`` rounding (SURVEY §7.4 hard part #2).
        """
        if timefly is None:
            return "current"
        want = _to_ts(timefly)
        stamps = [(s, dt.datetime.strptime(s, TS_FMT)) for s in self.snapshots()]
        if rounding == "earliest_after":
            matches = [s for s, t in stamps if t > want]
            pick = min(matches) if matches else None
        elif rounding == "latest_before":
            matches = [s for s, t in stamps if t <= want]
            pick = max(matches) if matches else None
        else:
            raise ValueError("rounding must be 'earliest_after' or 'latest_before'")
        if pick is None:
            return "current"
        return f"snapshot/{pick}"

    # -- reads ------------------------------------------------------------------------

    def read(
        self, timefly: str | dt.datetime | None = None, rounding: str = "earliest_after"
    ) -> DataFrame:
        """DataFrame over the dataset as of ``timefly``
        (reference TimeFlyReader, src/pydala/dataset/reader.py:584-653).
        A pointer snapshot reads its manifest's file list wherever the
        files live — current/ and/or the restore archive (per-root
        basePath keeps hive partition discovery working), through
        :func:`pydala_spark.sources.read`, which reconciles files whose
        footer schemas conflict. The snapshot is the one :meth:`_lookup`
        names: an exact stamp before any rounding."""
        from pydala_spark.dataset.reader import Dataset

        sub = self._lookup(timefly, rounding)
        if sub != "current":
            key = sub.removeprefix("snapshot/")
            manifest = self._read_snapshot_manifest(key)
            if manifest is not None:
                _, in_cur, in_arc = self._locate(key, manifest)
                parts = [
                    sources.read(self.spark, [posixpath.join(base, r) for r in rels],
                                 self.format, base_path=base)
                    for base, rels in ((self.current_path, in_cur),
                                       (self.archive_path, in_arc))
                    if rels
                ]
                if not parts:
                    raise FileNotFoundError(f"pointer snapshot {key} lists no files")
                df = parts[0]
                for extra in parts[1:]:
                    df = df.unionByName(extra, allowMissingColumns=True)
                return df
        return Dataset(
            self.spark, posixpath.join(self.base_path, sub), self.format
        ).load()
