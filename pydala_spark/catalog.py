"""Datalake: a root path holding many datasets, discoverable and
registerable on one SparkSession.

Reference parity (src/pydala/datalake/manager.py): datasets carry a
``_dataset.toml`` sidecar and the lake root a ``_pydala.toml`` manifest;
discovery is a ``**/_dataset.toml`` glob (manager.py:93-96, 128-131), and
``add_dataset`` registers a new member (manager.py:137-181), while
``remove_dataset`` drops one (manager.py:183-191). We use JSON sidecars
(``_dataset.json`` / ``_pydala.json``) and register every dataset as a
temp view — fixing the reference's broken multi-dataset reader
(datalake/reader.py:65-80 references undefined variables). Every method
passes a dataset's base path on: a TimeFly base opens at its
``current/`` in the reader or rewrite it reaches
(:func:`pydala_spark.dataset.timefly.open_dirs`).

The lake-global sweep methods (decontaminate / semantic_dedup /
span_dedup_report / signatures_report / prep_sweep / neardup_dedup /
ann_maintain) live in :mod:`pydala_spark.catalog_sweeps`
(``LakeSweepsMixin``, round 11) — this file is the lake core only:
manifest ledger, discovery, registration, SQL entry, compaction.

Scale: the reference reaches any protocol through fsspec
(datalake/manager.py:93-96 glob via ``self._fs``); here every path probe,
listing, and sidecar read/write routes through the Hadoop-FS
:class:`~pydala_spark.utils.pathops.PathOps` layer, so a lake rooted at
``s3a://`` / ``gs://`` / ``abfs://`` discovers and maintains exactly like
a local one. Discovery is one recursive listing (cost ∝ file count, a
driver-side metadata pass), not a per-directory walk.
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import DataFrame, SparkSession

from pydala_spark.catalog_sweeps import LakeSweepsMixin
from pydala_spark.dataset.reader import Dataset
from pydala_spark.dataset.timefly import CONFIG_NAMES
from pydala_spark.session import configure_session
from pydala_spark.utils.errors import ConfigError
from pydala_spark.utils.pathops import PathOps, strip_scheme

MANIFEST_NAME = "_pydala.json"
#: reference-layout sidecars (TOML) are discovered read-only so pointing
#: this catalog at an existing reference lake finds its datasets
#: (manager.py:48, 93-96); writes default to JSON, and
#: ``Datalake(sidecar_format="toml")`` mirrors every manifest write into
#: ``_pydala.toml`` for reference tooling.
TOML_MANIFEST_NAME = "_pydala.toml"


#: per-name manifest ledger directory: each add/remove is ONE
#: single-object PUT keyed by dataset name, so concurrent writers of
#: different names cannot lose each other's entries (the manifest analog
#: of the generation-pointer commit, dataset/generations.py). The "_"
#: prefix hides it from discovery and data scans.
ENTRIES_DIR = "_pydala_manifest"


class Datalake(LakeSweepsMixin):
    def __init__(self, spark: SparkSession, root: str, sidecar_format: str = "json"):
        if sidecar_format not in ("json", "toml"):
            raise ConfigError("sidecar_format must be 'json' or 'toml'")
        self.spark = configure_session(spark)
        # strip_scheme keeps s3a://... addressable while normalizing
        # file:/ and file:/// spellings to plain local paths
        self.root = strip_scheme(root).rstrip("/")
        self._po = PathOps(self.spark, root)
        self.manifest_path = posixpath.join(self.root, MANIFEST_NAME)
        self.entries_dir = posixpath.join(self.root, ENTRIES_DIR)
        #: "toml" additionally mirrors every manifest write into
        #: ``_pydala.toml`` so reference tooling keeps parsing the lake
        #: index (reference datalake/manager.py:48)
        self.sidecar_format = sidecar_format
        self.datasets: dict[str, Dataset] = {}

    def _rel(self, path: str) -> str:
        """Path relative to the lake root ('' if path IS the root); paths
        outside the root are returned unchanged (absolute)."""
        p = strip_scheme(path).rstrip("/")
        if p == self.root:
            return ""
        if p.startswith(self.root + "/"):
            return p[len(self.root) + 1:]
        return p

    # -- manifest ---------------------------------------------------------------

    def read_manifest(self) -> dict:
        """Merged manifest view: the blob (``_pydala.json``, or reference
        ``_pydala.toml`` when only that exists) overlaid by the per-name
        ledger entries — the ledger is TRUTH, the blob a compat view, so
        a stale blob rewrite by a concurrent/crashed writer can never
        lose an entry committed through the ledger."""
        manifest: dict = {"datasets": {}}
        if self._po.exists(self.manifest_path):
            try:
                manifest = json.loads(self._po.read_text(self.manifest_path))
            except Exception:
                manifest = {"datasets": {}}  # truncated blob: ledger rebuilds it
        else:
            toml_path = posixpath.join(self.root, TOML_MANIFEST_NAME)
            if self._po.exists(toml_path):
                import tomllib

                parsed = tomllib.loads(self._po.read_text(toml_path))
                if isinstance(parsed.get("datasets"), dict):
                    manifest = parsed
        from urllib.parse import unquote

        for path, _sz in self._po.list_files(self.entries_dir, recursive=False):
            base = posixpath.basename(path)
            if not base.endswith(".json"):
                continue
            try:
                entry = json.loads(self._po.read_text(path))
            except Exception:
                continue  # half-written entry: ignore, not fatal
            name = unquote(base[: -len(".json")])
            if entry.get("removed"):
                manifest.setdefault("datasets", {}).pop(name, None)
            else:
                manifest.setdefault("datasets", {})[name] = entry.get("path", ".")
        return manifest

    def write_manifest(self, manifest: dict) -> None:
        # PathOps.write_text creates parent dirs on any scheme
        self._po.write_text(self.manifest_path, json.dumps(manifest, indent=2))
        if self.sidecar_format == "toml":
            from pydala_spark.utils import tomlout

            self._po.write_text(
                posixpath.join(self.root, TOML_MANIFEST_NAME),
                tomlout.dumps(manifest),
            )

    def _commit_entry(self, name: str, payload: dict) -> None:
        """Commit one manifest mutation as a single-object PUT in the
        ledger (same safety argument as the generation pointer: writers
        of different names touch different objects; a same-name race is
        last-writer-wins, which is the only coherent outcome anyway),
        then refresh the compat blob(s) from the merged view."""
        from urllib.parse import quote

        self._po.write_text(
            posixpath.join(self.entries_dir, quote(name, safe="") + ".json"),
            json.dumps(payload),
        )
        self.write_manifest(self.read_manifest())

    # -- discovery (manager.py:90-131) --------------------------------------------

    def discover(self) -> dict[str, str]:
        """name -> dataset base path, by recursive sidecar listing
        (``_dataset.json`` plus reference-layout ``_dataset.toml``) plus
        every manifest entry. One recursive ``listFiles`` call — the
        remote-capable analog of the reference's ``**/_dataset.toml``
        fsspec glob (manager.py:93-96)."""
        found: dict[str, str] = {}
        for path, _size in self._po.list_files(self.root, recursive=True):
            if posixpath.basename(path) not in CONFIG_NAMES:
                continue
            base = posixpath.dirname(path)
            rel = self._rel(base)
            if not rel:  # a sidecar at the lake root is the lake's, not a dataset's
                continue
            found.setdefault(rel.replace("/", "."), base)
        manifest = self.read_manifest()
        for name, rel in manifest.get("datasets", {}).items():
            found.setdefault(name, posixpath.join(self.root, rel))
        return found

    # -- registration ----------------------------------------------------------------

    def add_dataset(
        self, name: str, path: str | None = None, format: str = "parquet", **kwargs
    ) -> Dataset:
        """Track + register a dataset (manager.py:137-181)."""
        base = path or posixpath.join(self.root, name.replace(".", "/"))
        ds = Dataset(self.spark, base, format=format, name=name, **kwargs)
        self.datasets[name] = ds
        # ledgered commit, not blob read-modify-write: two concurrent
        # add_dataset calls can no longer lose each other's entry
        self._commit_entry(name, {"path": self._rel(base) or "."})
        if ds._dataset_has_files():
            ds.to_view(name.replace(".", "_"))
        return ds

    def remove_dataset(self, name: str, clean: bool = False) -> bool:
        """Drop a dataset from the lake (reference ``remove_dataset``,
        datalake/manager.py:183-191): forget it in the manifest and the
        in-memory registry, unregister its temp view, and — only when
        ``clean=True`` — delete its files. Returns whether anything was
        known under that name. Without ``clean`` the bytes stay on disk
        but a sidecar-bearing directory would be re-discovered, so the
        sidecar is RENAMED to ``<sidecar>.removed`` rather than deleted:
        for a TimeFly-managed dataset that file is the snapshot ledger
        (TimeFly.config_path), and deleting it would destroy rollback
        history the docstring promises to keep. Renaming hides it from
        discovery while keeping every byte recoverable."""
        manifest = self.read_manifest()
        rel = manifest.get("datasets", {}).get(name)
        known = rel is not None or name in self.datasets
        self.datasets.pop(name, None)
        self.spark.catalog.dropTempView(name.replace(".", "_"))
        if rel is None:
            # not in the manifest — it may still exist by sidecar discovery
            base = self.discover().get(name)
            # a discovered (sidecar-only) dataset that we act on below IS
            # something known under this name; returning False while
            # clean=True deletes its bytes would misreport the removal
            known = known or base is not None
        else:
            # tombstone entry masks the blob too (ledger wins over any
            # stale blob a concurrent writer may put back)
            self._commit_entry(name, {"removed": True})
            base = self.root if rel == "." else posixpath.join(self.root, rel)
        if base is not None and base != self.root:
            po = PathOps(self.spark, base)  # base may be on another FS
            if clean:
                po.delete(base, recursive=True)
            else:
                for sidecar in CONFIG_NAMES:
                    src = posixpath.join(base, sidecar)
                    if po.exists(src):
                        dst = src + ".removed"
                        po.delete(dst, recursive=False)
                        po.rename(src, dst)
        return known

    def _dataset_format(self, base: str) -> str:
        """Format recorded in the dataset's sidecar (JSON or reference
        TOML), defaulting to parquet."""
        for sidecar in CONFIG_NAMES:
            p = posixpath.join(base, sidecar)
            if not self._po.exists(p):
                continue
            try:
                if sidecar.endswith(".toml"):
                    import tomllib

                    cfg = tomllib.loads(self._po.read_text(p))
                else:
                    cfg = json.loads(self._po.read_text(p))
                return cfg.get("dataset", {}).get("format") or "parquet"
            except Exception:
                return "parquet"
        return "parquet"

    def load(self, register_views: bool = True) -> dict[str, Dataset]:
        """Discover every dataset and (optionally) register each as a temp
        view named by its dotted relative path. Datasets with no data
        files are tracked but not registered (an empty dataset must not
        abort loading the rest of the lake), and each reads with the
        format its sidecar records."""
        for name, base in self.discover().items():
            ds = Dataset(self.spark, base, name=name,
                         format=self._dataset_format(base))
            self.datasets[name] = ds
            if register_views and ds._dataset_has_files():
                ds.to_view(name.replace(".", "_"))
        if register_views:
            self._views_registered = True
        return self.datasets

    def sql(self, query: str) -> DataFrame:
        # register on demand — self.datasets being populated is NOT proof
        # the views exist (load(register_views=False) also populates it)
        if not getattr(self, "_views_registered", False):
            self.load()
        return self.spark.sql(query)

    def maintain(
        self, target_file_mb: int = 128, swap: str = "rename"
    ) -> dict[str, dict]:
        """Compact every parquet dataset in the lake (lake-level form of
        ``maintain.compact``). Datasets that are empty or non-parquet are
        skipped with a reason instead of aborting the sweep — at a
        hundred datasets one bad entry must not kill the maintenance
        window. ``swap="generation"`` uses the object-store-safe pointer
        commit per dataset (dataset/generations.py) — the right setting
        for a lake rooted at s3a/gs/abfs. Returns per-dataset stats/skip
        reasons."""
        from pydala_spark.dataset.maintain import compact

        # fail fast on a typo'd swap: inside the loop it would be
        # swallowed by the per-dataset except as an {'error': ...} entry
        # for EVERY dataset while the sweep reports having run
        if swap not in ("rename", "generation"):
            raise ConfigError("swap must be 'rename' or 'generation'")
        results: dict[str, dict] = {}
        # one catalog listing for the whole sweep — the temp-view set
        # doesn't change during it (rebind only replaces existing views)
        temp_views = {
            t.name.lower() for t in self.spark.catalog.listTables() if t.isTemporary
        }
        for name, base in self.discover().items():
            fmt = self._dataset_format(base)
            if fmt != "parquet":
                results[name] = {"skipped": f"format {fmt}"}
                continue
            try:
                results[name] = compact(
                    self.spark, base, target_file_mb=target_file_mb, swap=swap
                )
            except FileNotFoundError:
                results[name] = {"skipped": "no data files"}
                continue
            except Exception as exc:  # one bad dataset must not kill the sweep
                results[name] = {"error": f"{type(exc).__name__}: {exc}"[:500]}
                continue
            # a generation swap moves the live data out from under any
            # temp view registered over the old layout — rebind this
            # session's view (catalog stores names lowercased). Scoped
            # OUTSIDE the compact try: a rebind hiccup must not masquerade
            # as a failed compaction (the rewrite already committed).
            view = name.replace(".", "_")
            if swap == "generation" and view.lower() in temp_views:
                try:
                    Dataset(self.spark, base, format=fmt, name=name).to_view(view)
                except Exception as exc:
                    results[name]["rebind_error"] = str(exc)[:200]
        return results

    def __getitem__(self, name: str) -> Dataset:
        if name not in self.datasets:
            self.load(register_views=False)
        return self.datasets[name]
