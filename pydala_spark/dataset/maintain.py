"""Dataset maintenance: bucketing, small-file compaction, z-ordering.

At 100 TB the dominant recurring costs are (a) re-shuffling big fact
tables for every join on the same key — fixed once by bucketing; (b) the
small-file problem: streaming/delta appends accrete thousands of tiny
files per partition until scan task scheduling and footer reads dominate
— fixed by periodic ``compact``; (c) scans filtered on a column the
layout isn't sorted by — fixed by ``zorder_write``, which clusters rows
on an interleaved-bit curve so parquet min/max pruning works on SEVERAL
columns at once. These are the Spark-native counterparts of the
reference's repartitioned-dataset layout (SURVEY §2.2 W11,
src/pydala/dataset/repartition.py).
"""

from __future__ import annotations

import math
import posixpath
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pydala_spark.dataset.writer import write_frame
from pydala_spark.session import configure_session


def bucketize(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    bucket_cols: str | Sequence[str],
    n_buckets: int = 32,
    sort_cols: str | Sequence[str] | None = None,
    mode: str = "overwrite",
    format: str = "parquet",
) -> str:
    """Persist ``df`` as a bucketed (optionally sorted) catalog table.

    Same ``n_buckets`` + ``bucket_cols`` across tables => joins between
    them are exchange-free. Sorting within buckets additionally removes
    the sort from sort-merge joins.
    """
    configure_session(spark)
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = (
        df.write.format(format)
        .mode(mode)
        .bucketBy(n_buckets, bucket_cols[0], *bucket_cols[1:])
    )
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(sort_cols[0], *sort_cols[1:])
    writer.saveAsTable(table_name)
    return table_name


class _Rewrite:
    """The one rewrite step of every write that replaces a dataset's
    files: ``compact``, ``recluster``, ``Writer.unify_schema``, in-place
    ``Repartition.run`` and ``Writer.write`` (it opens every call here;
    overwrite, overwrite_partitions, upsert and directory-flavor writes
    stage and commit through it).

    Opening resolves the live directory (a generational dataset's active
    generation), finishes any crashed commit there (``PathOps.recover``),
    lists its data files ONCE (``files`` and their relative ``rels``) and
    names the stage: the next ``gen-NNNNNN/`` for ``swap="generation"``,
    else the ``suffix`` sibling. Every rewrite reads its input from that
    listing (:meth:`read`; the ``Writer`` delta diff too), never by
    reopening the dataset. The caller writes the stage, then
    :meth:`commit` swaps it in and refreshes Spark's cached listings.
    A TimeFly base opens at its ``current/``
    (:func:`~pydala_spark.dataset.timefly.open_dirs`), so every rewrite
    of a base rewrites ``current/`` (a generation swap puts its
    ``gen-*`` directories and pointer there) and leaves ``snapshot/``
    alone. The replaced files of a TimeFly ``current/`` that pointer
    manifests reference are parked in its snapshot archive, so every
    rewrite keeps pointer snapshots readable and restorable.
    """

    def __init__(self, spark: SparkSession, path: str, suffix: str,
                 swap: str = "rename"):
        from pydala_spark.dataset import generations
        from pydala_spark.dataset.timefly import open_dirs
        from pydala_spark.utils.pathops import PathOps, strip_scheme

        if swap not in ("rename", "generation"):
            raise ValueError("swap must be 'rename' or 'generation'")
        self.spark, self.swap = configure_session(spark), swap
        self.base, self.local = open_dirs(spark, strip_scheme(path).rstrip("/"))
        self.ops = PathOps(spark, self.local)
        self.ops.recover(self.local)
        self.files = self.ops.data_files(self.local)
        self.rels = [p[len(self.local):].lstrip("/") for p, _ in self.files]
        if swap == "generation":
            self.stage = posixpath.join(
                self.base, generations.next_generation(spark, self.base))
        else:
            self.stage = self.local + suffix

    def read(self, format: str, infer_schema: bool = False,
             paths: list[str] | None = None) -> DataFrame:
        """The EXPLICIT listed files, not the directory: an append that
        lands between the listing and Spark's own directory scan would
        otherwise be swept into the rewrite while staying absent from the
        generation commit's ``input_files`` — carried forward as a
        straggler AND rewritten, duplicating its rows. ``paths`` narrows
        the read to a subset of the listing (``compact`` reads only the
        partitions it rewrites). Read through
        :func:`pydala_spark.sources.read`, so conflicting footer schemas
        are reconciled there. csv columns and hive partition values are
        read as strings, so the rewrite keeps their text (``007``,
        ``1.50``); ``infer_schema=True`` types them, for the ``Writer``
        delta diff, which writes no existing row back, and in-place
        ``Repartition``, which may change the layout and the format."""
        from pydala_spark import sources

        if not self.files:
            raise FileNotFoundError(f"no data files under {self.base}")
        return sources.read(self.spark, paths or [p for p, _ in self.files],
                            format, base_path=self.local,
                            infer_schema=infer_schema)

    def unread(self) -> set[str]:
        """The listed files a read of the listing leaves out: with hive
        partition columns, Spark's partition discovery skips every file
        with no ``col=value`` directory on its path (one at the root)."""
        from pydala_spark.schema import infer_partitioning

        if not infer_partitioning(self.rels):
            return set()
        return {r for r in self.rels if "=" not in posixpath.dirname(r)}

    def commit(self, entries: list[str] | None = None) -> str:
        """Swap the written stage in; returns the live directory.
        ``rename`` runs ``PathOps.commit_stage`` (``entries``: the
        target-relative dirs to replace, e.g. an upsert's touched
        partitions), parking the replaced files where
        :func:`~pydala_spark.dataset.timefly.archive_for` says: the
        snapshot archive of a TimeFly ``current/`` whose pointer
        manifests may list them, else nowhere. ``generation`` is ONE
        pointer PUT; naming only the files the read saw lets it carry
        forward any append that landed after the listing
        (generations.py concurrency contract) and every file the read
        left out (:meth:`unread`)."""
        from pydala_spark.dataset import generations
        from pydala_spark.dataset.timefly import archive_for

        if self.swap == "rename":
            self.ops.commit_stage(self.local, self.stage, entries=entries,
                                  park=archive_for(self.ops, self.local))
            final = self.local
        else:
            generations.commit(
                self.spark, self.base, posixpath.basename(self.stage),
                source=(generations.ROOT_GEN if self.local == self.base
                        else posixpath.basename(self.local)),
                input_files=sorted(set(self.rels) - self.unread()),
            )
            final = self.stage
        self.spark.catalog.refreshByPath(self.base)
        self.spark.catalog.refreshByPath(final)
        return final


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    format: str = "parquet",
    compression: str = "zstd",
    swap: str = "rename",
) -> dict:
    """Rewrite the small files of a dataset's partitions into
    ~``target_file_mb`` files, preserving any hive partition layout.
    Returns ``files_before``, ``files_after``, ``bytes`` (the bytes
    rewritten) and ``partition_cols``.

    Streaming and delta appends accrete tiny files; at scale the scan
    cost becomes task scheduling + footer reads, not I/O. Like Delta
    ``OPTIMIZE`` (Armbrust et al., *Delta Lake*, VLDB 2020), only what
    needs it is rewritten. A hive partition directory is rewritten when
    it holds two or more files below the target and more files than the
    ``ceil(bytes / target)`` it would be written as, so a partition that
    is already compacted or split stays as it is. Every other partition
    keeps its files, names and bytes: only the rewritten partitions'
    files are read, and the commit replaces only their directories.
    When no partition needs a rewrite, ``compact`` returns ``bytes: 0``
    without staging, committing or running a Spark job. An unpartitioned
    dataset, or a layout with files off the full ``col=value`` depth, is
    one group, rewritten whole or not at all; a file with no
    ``col=value`` directory on its path (one at the root of a
    partitioned dataset) is left out of Spark's read, so it stays as it
    is too.

    One ``repartition`` sized from the rewritten byte count writes the
    output. With hive partition columns, hashing on them alone would
    collapse every directory to exactly ONE file regardless of size (a
    10 GB partition becoming one 10 GB file); instead each partition gets
    a deterministic salt sized from its own byte count
    (:func:`_chunk_salt`), so big partitions split into
    ~``target_file_mb`` files while small ones still collapse to one.

    ``swap="rename"`` stages into a sibling and commits it through
    ``PathOps.commit_stage``; ``swap="generation"`` writes the next
    ``gen-NNNNNN/`` and commits one pointer object — the object-store
    path (``dataset/generations.py``), keeping the previous generation
    for in-flight readers. A generation must hold the whole
    dataset, so that swap rewrites every partition on every call. Both
    go through :class:`_Rewrite`.
    """
    from pydala_spark.schema import infer_partitioning

    rw = _Rewrite(spark, path, "__compacting", swap)
    if not rw.files:
        raise FileNotFoundError(f"no data files under {rw.base}")
    target_bytes = target_file_mb * 1024 * 1024
    part_cols = infer_partitioning(rw.rels) or []
    dirs: dict[str, list[tuple[str, int]]] = {}
    for rel, f in zip(rw.rels, rw.files):
        dirs.setdefault(posixpath.dirname(rel), []).append(f)

    def needs_rewrite(files: list[tuple[str, int]]) -> bool:
        small = sum(sz < target_bytes for _, sz in files)
        chunks = math.ceil(sum(sz for _, sz in files) / target_bytes)
        return small >= 2 and len(files) > chunks

    full_depth = bool(part_cols) and all(
        len(segs) == len(part_cols)
        and all(s.startswith(c + "=") for s, c in zip(segs, part_cols))
        for segs in (d.split("/") for d in dirs))
    if swap == "generation":
        todo = list(dirs)
    elif full_depth:
        todo = [d for d, files in dirs.items() if needs_rewrite(files)]
    else:
        todo = list(dirs) if needs_rewrite(rw.files) else []
    if not todo:
        return {"files_before": len(rw.files), "files_after": len(rw.files),
                "bytes": 0, "partition_cols": part_cols}
    partial = len(todo) < len(dirs)
    files = [f for d in todo for f in dirs[d]]
    df = rw.read(format, paths=[p for p, _ in files] if partial else None)
    total_bytes = sum(sz for _, sz in files)
    n_files = max(1, math.ceil(total_bytes / target_bytes))
    if part_cols:
        salt = _chunk_salt(spark, df, part_cols,
                           {d: dirs[d] for d in todo}, target_bytes)
        shuffled = (df.withColumn("__salt", salt)
                    .repartition(n_files, *part_cols, "__salt")
                    .drop("__salt"))
    else:
        shuffled = df.repartition(n_files)
    write_frame(shuffled, rw.stage, format, compression=compression,
                partition_by=part_cols)
    # Spark's partition discovery leaves a file with no col=value
    # directory on its path out of a partitioned read: never replace it
    unread = rw.unread()
    entries = None
    if partial or unread:
        # the directories Spark wrote: a name that differs from its
        # source (a foreign escape such as %20) is replaced too; one
        # naming an untouched partition is refused by the stray check
        staged = {posixpath.dirname(p[len(rw.stage):].lstrip("/"))
                  for p, _ in rw.ops.data_files(rw.stage)}
        entries = sorted(set(todo) | (staged - set(dirs)) if partial else
                         {r.split("/")[0] for r in staged | set(rw.rels) - unread})
    final = rw.commit(entries)
    return {
        "files_before": len(rw.files),
        "files_after": len(rw.ops.data_files(final)),
        "bytes": total_bytes,
        "partition_cols": part_cols,
    }


def _chunk_salt(spark: SparkSession, df: DataFrame, part_cols: list[str],
                dirs: dict[str, list[tuple[str, int]]],
                target_bytes: int) -> Column:
    """Each row's chunk within its hive partition, ``hash(data columns)
    mod n`` for a partition of ``n = ceil(bytes / target) > 1`` chunks
    and 0 for the rest. The lookup is literals in the plan, one ``isin``
    per distinct ``n`` (Spark turns more than 10 values into a hash-set
    ``InSet``), so no table is built or broadcast. It is keyed on the
    partition values as Spark reads them from ``dirs``: unescaped
    (``a%3Ab`` reads ``a:b``), the default partition name as NULL. The
    hash is deterministic, NOT rand(): rand() re-evaluates differently
    on task retry and can duplicate or lose rows through a shuffle."""
    sizes: dict[tuple, int] = {}
    for d, files in dirs.items():
        kv = dict(s.split("=", 1) for s in d.split("/") if "=" in s)
        key = tuple(kv.get(c) for c in part_cols)
        sizes[key] = sizes.get(key, 0) + sum(sz for _, sz in files)
    by_n: dict[int, list[tuple]] = {}
    for key, size in sizes.items():
        n = math.ceil(size / target_bytes)
        if n > 1:
            by_n.setdefault(n, []).append(key)
    if not by_n:
        return F.lit(0)
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    default = utils.DEFAULT_PARTITION_NAME()

    def row(values: list[Column]) -> Column:
        return F.struct(*[v.cast("string").alias(str(i))
                          for i, v in enumerate(values)])

    value = row([F.col(c) for c in part_cols])
    digest = F.hash(*[F.col(c) for c in df.columns if c not in part_cols])
    salt = F.lit(0)
    for n, keys in by_n.items():
        hit = value.isin([
            row([F.lit(None if v in (None, default) else utils.unescapePathName(v))
                 for v in key])
            for key in keys])
        salt = F.when(hit, F.pmod(digest, F.lit(n))).otherwise(salt)
    return salt


def zorder_value(cols: Sequence[Column], bits: int = 16) -> Column:
    """Interleave the bits of pre-scaled integer columns (each already in
    ``[0, 2**bits)``) into one Morton/z-curve value. Pure JVM bit
    arithmetic — whole-stage-codegen-friendly, no UDF."""
    z = F.lit(0).cast("long")
    k = len(cols)
    if k * bits > 63:
        # Java shifts wrap mod 64 — an overflowing interleave silently
        # scrambles the curve; the caller must lower per-column bits
        raise ValueError(
            f"zorder_value: {k} columns x {bits} bits exceeds 63 interleaved "
            f"bits; use bits <= {63 // k}"
        )
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + i))
    return z


def zorder_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 32,
    bits: int = 10,
    format: str = "parquet",
    compression: str = "zstd",
) -> dict:
    """Write ``df`` clustered on a z-order curve over numeric/timestamp
    ``cols`` so parquet min/max row-group pruning is effective on EVERY
    listed column, not just a lexicographic sort leader.

    Each column is min-max scaled to ``bits`` bits (one tiny agg job for
    the bounds — two scalars per column to the driver), interleaved into
    a z-value, then ``repartitionByRange`` + in-partition sort on it.
    Every output file covers a compact z-range, i.e. a small hyper-
    rectangle of the column space. Range partitioning samples keys at
    runtime, so skewed value distributions still yield balanced files.
    """
    configure_session(spark)
    if len(cols) * bits > 63:
        # per-column resolution shrinks so the interleave fits a long;
        # scaling below uses the SAME clamped bits, keeping scale and
        # interleave consistent
        bits = 63 // len(cols)
        if bits < 1:
            raise ValueError(f"zorder_write: too many columns ({len(cols)})")
    nums = [F.col(c).cast("double") for c in cols]
    bounds = df.select(
        *[f(c).alias(f"{i}_{j}") for i, c in enumerate(nums) for j, f in
          (("lo", F.min), ("hi", F.max))]
    ).first()
    top = (1 << bits) - 1
    scaled = []
    for i, c in enumerate(nums):
        lo, hi = bounds[f"{i}_lo"], bounds[f"{i}_hi"]
        if lo is None or hi is None:
            raise ValueError(
                f"zorder_write: no non-NULL values in column {cols[i]!r} "
                "(empty input or all-NULL column) — z-order bounds undefined"
            )
        span = (hi - lo) or 1.0
        scaled.append(
            # NULLs deliberately cluster into the top z-bucket (coalesce
            # AFTER scaling) so they land together in one file range
            # instead of poisoning the whole curve
            F.coalesce(
                F.least(F.lit(top), F.floor((c - F.lit(lo)) / F.lit(span) * top)),
                F.lit(top),
            )
        )
    zed = df.withColumn("__z", zorder_value(scaled, bits))
    out = (
        zed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    write_frame(out, path, format, compression=compression)
    return {"n_files": n_files, "bits": bits, "cols": list(cols)}


def recluster(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
    n_files: int = 32,
    bits: int = 10,
    compression: str = "zstd",
    swap: str = "rename",
) -> dict:
    """In-place z-order rewrite of an existing (unpartitioned parquet)
    dataset: read, cluster on the Morton curve over ``cols``, stage, and
    swap — ``swap="rename"`` (``PathOps.commit_stage``) or
    ``swap="generation"`` (object-store-safe pointer commit keeping the
    previous generation, see :func:`compact`), through
    :class:`_Rewrite`. The periodic-maintenance form of
    :func:`zorder_write` — a streaming sink accretes
    arrival-ordered files; reclustering restores multi-column min/max
    pruning without taking the dataset offline longer than the swap.
    """
    rw = _Rewrite(spark, path, "__reclustering", swap)
    stats = zorder_write(
        spark, rw.read("parquet"), rw.stage, cols, n_files=n_files, bits=bits,
        compression=compression,
    )
    rw.commit()
    return stats


def normalize_filenames(
    spark: SparkSession,
    path: str,
    base_name: str = "data",
    timestamp: str | None = None,
) -> dict:
    """Rename Spark's ``part-*`` data files to the reference's
    ``{base}-{YYYYmmdd_HHMMSSfff}-{id}.{ext}`` scheme (reference
    src/pydala/dataset/writer.py:141) — closes the SURVEY §7.4 part-file
    naming divergence for lakes that must stay byte-compatible with
    reference tooling's filename expectations.

    Partition directories are preserved (only basenames change); the
    sequence id is assigned in sorted-path order, so the mapping is
    deterministic given the listing and a fixed ``timestamp``
    (YYYYmmdd_HHMMSSfff; defaults to now-UTC). Metadata-only: one
    listing + one rename per file through the Hadoop FileSystem (a
    copy+delete per file on object stores). Run it like any other
    maintenance op — not concurrently with readers that already
    resolved the old file list. Returns {"n_renamed", "n_skipped"}.
    """
    import datetime as _dt
    import posixpath as _pp
    import re as _re

    from pydala_spark.dataset.timefly import open_dirs
    from pydala_spark.utils.pathops import PathOps, strip_scheme

    configure_session(spark)
    base, local = open_dirs(spark, strip_scheme(path).rstrip("/"))
    po = PathOps(spark, local)
    ts = timestamp or _dt.datetime.now(_dt.timezone.utc).strftime(
        "%Y%m%d_%H%M%S%f"
    )[:-3]
    already = _re.compile(rf"^{_re.escape(base_name)}-\d{{8}}_\d{{9}}-\d+\.")
    listing = sorted(po.data_files(local))
    # seq must never collide with a name already on disk: a second run
    # with the SAME explicit timestamp would otherwise assign seq 0 to a
    # new file and rename onto an existing data file (silent replace on
    # local rename(2), mid-run failure on HDFS)
    taken = {_pp.basename(p) for p, _ in listing}
    seq = 0
    n_renamed = n_skipped = 0
    for p, _sz in listing:
        name = _pp.basename(p)
        if already.match(name):
            n_skipped += 1
            continue
        ext = name.rsplit(".", 1)[-1] if "." in name else "parquet"
        while f"{base_name}-{ts}-{seq:06d}.{ext}" in taken:
            seq += 1
        new_name = f"{base_name}-{ts}-{seq:06d}.{ext}"
        taken.add(new_name)
        po.rename(p, _pp.join(_pp.dirname(p), new_name))
        n_renamed += 1
    spark.catalog.refreshByPath(base)
    return {"n_renamed": n_renamed, "n_skipped": n_skipped}

# ---------------------------------------------------------------------------
# Ingest-time signature materialization

#: Sidecar directory name under a dataset base path. One subdirectory per
#: signature kind (``_signatures/winnowing``, ``_signatures/minhash``),
#: each a plain parquet dataset plus a ``_params.json`` recording the
#: hashing parameters — the same "sidecar stores the encoding so search
#: can't mismatch it" rule the PQ codebooks follow (operators/ann.py).
SIGNATURES_DIR = "_signatures"


def drop_signatures(ops, live_dir: str) -> None:
    """Delete the signature sidecars of ``live_dir`` (``ops``: the
    caller's open :class:`~pydala_spark.utils.pathops.PathOps`). Every
    write that changes the rows without re-signing them calls this: an
    unsigned Writer write, a ``distinct`` in-place ``Repartition`` and a
    TimeFly pointer restore. Stale sidecars would hand verify-less
    consumers fingerprints of text that is gone; without them the next
    sweep re-materializes."""
    sig = posixpath.join(live_dir, SIGNATURES_DIR)
    if ops.is_dir(sig):
        ops.delete(sig)


def materialize_signatures(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    kinds: Sequence[str] = ("winnowing",),
    winnowing_k: int = 8,
    winnowing_window: int = 4,
    n_hashes: int = 8,
    shingle_size: int = 3,
    seed: int = 0,
    shingle_mode: str = "word",
    span_k: int = 20,
    span_window: int = 8,
    vec_col: str = "embedding",
    centroids=None,
    mode: str = "overwrite",
    signatures_path: str | None = None,
) -> dict[str, str]:
    """Persist per-document dedup/decontamination signatures as sidecar
    parquet next to the dataset — hash the corpus text ONCE at ingest so
    every later decontamination sweep / chained near-dup pass reads the
    (tiny) signature table instead of replaying the per-character hashing
    lineage over 100 TB of text (the round-5 advisory: Catalyst replays
    a winnowing lineage per consumer; materialization is the production
    pattern, now one call instead of a docstring).

    ``kinds`` ⊆ {"winnowing", "minhash", "spans", "embedding_cells"}:

    - ``winnowing`` → ``(id, fps)`` from :func:`~pydala_spark.operators.
      textstats.winnowing_fingerprints` (k/window knobs);
    - ``minhash`` → ``(id_col, mh_0..mh_{n-1})`` from :func:`~pydala_
      spark.operators.dedup.minhash_signatures` (n_hashes / shingle /
      seed knobs);
    - ``spans`` (round 7) → ``(id, fp, pos, len)`` from :func:`~pydala_
      spark.operators.dedup.span_fingerprints` (span_k / span_window
      knobs) — the POSITIONAL table sub-document span dedup needs; one
      row per char window (the honest cost of the modality — this is
      the engine's most expensive hashing pass, which is exactly why it
      belongs at ingest, not in every sweep). ``min_df``/``min_span``
      are deliberately NOT baked in: the document-frequency count runs
      per sweep on the sidecar.
    - ``embedding_cells`` (round 8) → ``(id, cell, norm)`` — the
      k-means cell assignment + hoisted L2 norm that SemDeDup-style
      :func:`~pydala_spark.operators.similarity.semantic_dedup` blocks
      on, materialized ONCE with a pinned ``centroids`` codebook (train
      via :func:`~pydala_spark.operators.ann.kmeans_centroids`, persist
      via ``save_codebook``). ``df`` here is the EMBEDDINGS frame
      (``id_col`` + ``vec_col``), not the text corpus. At production
      codebook sizes the assignment matmul (n_centroids × dim flops per
      vector — the SemDeDup paper runs ~100k clusters) dwarfs every
      other cost of a sweep, which is exactly why it belongs at ingest;
      the params record ``codebook_sha`` so a cell table can never
      silently answer for a retrained codebook. The content marker for
      this kind hashes the FULL vector (``xxhash64(id, vec)`` — cheap
      relative to the matmul it replaces, and with no same-length blind
      spot), not ``octet_length``.

    Every kind's ``_params.json`` additionally records a content marker
    (``content_rows`` + ``content_xor`` — xor of ``xxhash64(id,
    octet_length(text))``, ONE narrow aggregate): any out-of-band
    mutation of the corpus (an upsert, a ``remove_duplicate_spans``
    rewrite) changes it, and :func:`read_signatures` can re-verify the
    marker against the live dataset so a stale sidecar fails LOUD
    instead of silently reporting zero overlaps. Appends fold in (xor
    is associative; rows add), so incremental ingest keeps the marker
    exact without rescanning history.

    Each kind lands at ``<path>/_signatures/<kind>`` with a
    ``_params.json`` sidecar recording the exact hashing parameters —
    or at ``<signatures_path>/_signatures/<kind>`` when the dataset's
    own storage is READ-ONLY (crawl dumps, shared lakes): signatures
    are derived data, so they can live anywhere, and the content
    marker still ties them to the exact corpus they were hashed from
    (same semantics as the pipeline CLI's ``signatures_path`` config
    key — an alternate base standing in for the dataset path). The
    trade: Writer auto-invalidation only sweeps ``<dest>/_signatures``,
    so out-of-place sidecars rely entirely on marker verification —
    which is exactly the right posture for a dataset nobody can write
    to.
    :func:`read_signatures` refuses to serve a frame whose recorded
    params contradict the caller's expectation, so a k=8 fingerprint
    table can never silently answer a k=5 contamination query. One scan
    of the corpus per kind, one narrow parquet write — no shuffle for
    winnowing, one doc-keyed aggregate for minhash. Returns
    ``{kind: sidecar_path}``.

    This is also the Writer ride-along seam: pass the freshly written
    dataset's own frame (reference ``dataset/writer.py:486-490`` runs a
    per-batch transform hook at the same point in its ingest path).
    """
    import json as _json

    from pydala_spark.utils.pathops import PathOps, strip_scheme

    from pyspark.sql import functions as F

    configure_session(spark)
    base = strip_scheme(path).rstrip("/")
    sig_base = posixpath.join(
        strip_scheme(signatures_path).rstrip("/") if signatures_path
        else base,
        SIGNATURES_DIR,
    )
    po = PathOps(spark, sig_base)
    out: dict[str, str] = {}

    def _marker(content):
        # ONE narrow aggregate — the content marker read_signatures
        # verifies against. Text kinds share one (octet_length-keyed);
        # embedding_cells hashes the full vector (see docstring).
        row = df.agg(
            F.count("*").alias("rows"),
            F.coalesce(
                F.bit_xor(F.xxhash64(F.col(id_col), content)), F.lit(0)
            ).alias("xor"),
        ).collect()[0]
        return {"content_rows": int(row["rows"]),
                "content_xor": int(row["xor"])}

    text_kinds = ("winnowing", "minhash", "spans")
    marker = (_marker(F.octet_length(text_col))
              if any(k in text_kinds for k in kinds) else None)
    emb_marker = (_marker(F.col(vec_col))
                  if "embedding_cells" in kinds else None)
    for kind in kinds:
        target = posixpath.join(sig_base, kind)
        if kind == "winnowing":
            from pydala_spark.operators.textstats import winnowing_fingerprints

            sigs = winnowing_fingerprints(
                df, id_col, text_col, k=winnowing_k, window=winnowing_window
            )
            params = {
                "kind": kind, "id_col": id_col, "text_col": text_col,
                "k": winnowing_k, "window": winnowing_window,
            }
        elif kind == "minhash":
            from pydala_spark.operators.dedup import minhash_signatures

            sigs = minhash_signatures(
                df, id_col, text_col, n_hashes=n_hashes,
                shingle_size=shingle_size, seed=seed,
                shingle_mode=shingle_mode,
            )
            params = {
                "kind": kind, "id_col": id_col, "text_col": text_col,
                "n_hashes": n_hashes, "shingle_size": shingle_size,
                "seed": seed, "shingle_mode": shingle_mode,
            }
        elif kind == "spans":
            from pydala_spark.operators.dedup import span_fingerprints

            sigs = span_fingerprints(
                df, id_col, text_col, k=span_k, window=span_window
            )
            params = {
                "kind": kind, "id_col": id_col, "text_col": text_col,
                "k": span_k, "window": span_window,
            }
        elif kind == "embedding_cells":
            import numpy as np

            from pydala_spark.operators.ann import _assigner, codebook_sha
            from pydala_spark.operators.similarity import norm

            if centroids is None:
                raise ValueError(
                    "materialize_signatures(embedding_cells): pass "
                    "centroids= — the cell table is only meaningful "
                    "under a pinned codebook (train once via "
                    "operators.ann.kmeans_centroids, persist via "
                    "save_codebook/load_codebook)"
                )
            cb = np.asarray(centroids, dtype=np.float64)
            assign = _assigner(cb, 1)
            sigs = df.select(
                F.col(id_col).alias("id"),
                F.element_at(assign(F.col(vec_col)), 1).alias("cell"),
                norm(F.col(vec_col)).alias("norm"),
            )
            params = {
                "kind": kind, "id_col": id_col, "vec_col": vec_col,
                "n_centroids": int(cb.shape[0]), "dim": int(cb.shape[1]),
                "codebook_sha": codebook_sha(cb),
            }
        else:
            raise ValueError(
                f"materialize_signatures: unknown kind {kind!r} "
                "(expected 'winnowing', 'minhash', 'spans' or "
                "'embedding_cells')"
            )
        this_marker = (emb_marker if kind == "embedding_cells"
                       else marker)
        kind_marker = dict(this_marker)
        params_path = posixpath.join(target, "_params.json")
        if mode == "append" and po.exists(params_path):
            # an append under DIFFERENT hashing params would silently
            # mix schemes in one sidecar and then overwrite the params
            # record — defeating read_signatures' guard (round-6
            # review). Fail loud instead. The content marker is NOT a
            # hashing param: appends fold it in (rows add, xor xors).
            existing = _json.loads(po.read_text(params_path))
            if "content_rows" not in existing:
                # folding against an implicit zero marker would record a
                # marker covering ONLY the appended rows; a later
                # verify_against= would then misdiagnose a complete,
                # fresh sidecar as "corpus text mutated" (r7 advice)
                raise ValueError(
                    f"materialize_signatures({kind}): the existing "
                    "sidecar predates content markers — appending would "
                    "record a marker covering only the appended rows; "
                    "re-materialize with mode='overwrite' first"
                )
            prior_marker = {
                "content_rows": existing.pop("content_rows"),
                "content_xor": existing.pop("content_xor", 0),
            }
            if existing != params:
                raise ValueError(
                    f"materialize_signatures({kind}): append params "
                    f"{params} disagree with the sidecar's recorded "
                    f"{existing} — appending would mix hashing schemes; "
                    "re-materialize with mode='overwrite' or match the "
                    "recorded params"
                )
            kind_marker = {
                "content_rows": prior_marker["content_rows"]
                + this_marker["content_rows"],
                "content_xor": prior_marker["content_xor"]
                ^ this_marker["content_xor"],
            }
        sigs.write.mode(mode).parquet(target)
        po.write_text(
            posixpath.join(target, "_params.json"),
            _json.dumps({**params, **kind_marker},
                        indent=2, sort_keys=True),
        )
        out[kind] = target
    return out


def read_signatures(
    spark: SparkSession,
    path: str,
    kind: str,
    expect: dict | None = None,
    verify_against: DataFrame | None = None,
    signatures_path: str | None = None,
) -> tuple[DataFrame, dict]:
    """Load a :func:`materialize_signatures` sidecar → ``(frame,
    params)``. ``expect`` pins parameters the consumer depends on (e.g.
    ``{"k": 8, "window": 4}``): any recorded value that contradicts an
    expected one raises instead of silently joining fingerprints hashed
    under a different scheme (the mismatch would not error downstream —
    it would just find zero overlaps, which is indistinguishable from a
    clean corpus).

    ``verify_against`` (round 7) closes the CONTENT half of that same
    failure mode: pass the live corpus frame and the sidecar's recorded
    content marker (row count + xor of ``xxhash64(id,
    octet_length(text))``) is re-verified against it — an out-of-band
    text mutation (upsert, span-dedup rewrite, manual fix-up) raises
    here instead of producing a clean-looking empty decon result. Cost:
    ONE narrow aggregate over (id, text-length); same-length in-place
    character edits are the one blind spot (re-materialize after any
    deliberate text surgery — the pipeline's own text-mutating stages
    already refuse precomputed signatures outright).

    ``signatures_path`` reads an out-of-place sidecar family dir (the
    read-only-dataset layout — see :func:`materialize_signatures`)."""
    import json as _json

    from pydala_spark.utils.pathops import PathOps, strip_scheme

    configure_session(spark)
    target = posixpath.join(
        strip_scheme(signatures_path or path).rstrip("/"),
        SIGNATURES_DIR, kind,
    )
    po = PathOps(spark, target)
    params = _json.loads(po.read_text(posixpath.join(target, "_params.json")))
    if expect:
        bad = {
            key: (params.get(key), val)
            for key, val in expect.items()
            if params.get(key) != val
        }
        if bad:
            raise ValueError(
                f"read_signatures({kind}): sidecar params disagree with "
                f"expectation: {bad} (recorded, expected) — re-materialize "
                "with the consumer's parameters"
            )
    if verify_against is not None:
        from pyspark.sql import functions as F

        if "content_rows" not in params:
            raise ValueError(
                f"read_signatures({kind}): sidecar predates content "
                "markers (round 7) — re-materialize to enable staleness "
                "verification, or pass verify_against=None"
            )
        # embedding sidecars marker the FULL vector; text kinds marker
        # (id, octet_length(text)) — must mirror materialize_signatures
        content = (
            F.col(params["vec_col"]) if "vec_col" in params
            else F.octet_length(params["text_col"])
        )
        live = verify_against.agg(
            F.count("*").alias("rows"),
            F.coalesce(
                F.bit_xor(F.xxhash64(F.col(params["id_col"]), content)),
                F.lit(0),
            ).alias("xor"),
        ).collect()[0]
        if (int(live["rows"]) != params["content_rows"]
                or int(live["xor"]) != params["content_xor"]):
            raise ValueError(
                f"read_signatures({kind}): STALE sidecar — live dataset "
                f"content marker (rows={int(live['rows'])}, "
                f"xor={int(live['xor'])}) disagrees with the recorded "
                f"(rows={params['content_rows']}, "
                f"xor={params['content_xor']}); the corpus text mutated "
                "since materialization (upsert / span rewrite?) and the "
                "signatures would silently report zero overlaps — "
                "re-materialize before the sweep"
            )
    return spark.read.parquet(target), params
