"""Generation-pointer dataset layout: atomic-ish maintenance on object
stores.

``compact``/``recluster`` default to a staged swap through
``PathOps.commit_stage`` (journaled renames, crash-safe), but on object
stores (s3a/gs/abfs) a directory "rename" is a full copy + delete: slow
and double-billed. The
generation swap (``swap="generation"``) avoids renames entirely:

- data lives in ``base/gen-NNNNNN/``;
- ``base/_generation.json`` names the active generation — the ONLY
  mutation the swap makes is one small-object PUT, which object stores
  apply atomically (same single-pointer-write idea as TimeFly's
  manifest-pointer snapshots);
- maintenance writes the NEXT generation directory in full, commits the
  pointer, then prunes generations older than ``keep_previous`` behind
  the active one (the retained previous generation keeps in-flight
  readers alive — their file lists stay valid until the next sweep).

``Dataset`` and ``Writer`` resolve the pointer at construction (Writer
re-resolves at every write), so the layout is transparent to readers and
appenders: appends land inside the active generation and are carried
forward by the next maintenance pass. Cost: one existence probe per
constructor/write — a driver-side metadata call.

Concurrency contract: ONE maintainer at a time (the same assumption the
rename swap makes). Two concurrent ``commit`` calls race last-writer-wins
on the pointer; serialize maintenance (the streaming ride-along does, by
running inside foreachBatch). Concurrent readers are always safe — they
only ever follow the pointer. A single appender running concurrently
with maintenance is protected by CARRY-FORWARD: ``commit`` re-lists the
superseded generation immediately before the pointer write and copies
any data file the compaction did not read (a straggler append) into the
new generation, and records the full accounted file list in the new
generation's ``_inputs.json`` provenance sidecar. An append that becomes
visible only AFTER that re-listing (the residual window is one listing +
one small PUT, not the whole compaction) stays in the superseded
generation — which is retained for ``keep_previous`` sweeps — and is
carried into the active generation by the sweep that finally prunes it
(prune-time carry compares the doomed generation's files against its
successor's sidecar). Net: no append is ever deleted; worst case it is
invisible for up to one maintenance sweep. Generations created before
the sidecar existed have no provenance and keep the old prune behavior
(documented legacy gap). For a zero-invisibility guarantee, serialize
appenders with maintenance as well. A corrupt or unreadable pointer
degrades gracefully rather than failing the job: ``resolve`` falls back
to the highest existing ``gen-*`` directory (the base of a migrated
dataset holds only generation subdirs), or to the base path itself when
none exist.
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import SparkSession

from pydala_spark.utils.pathops import PathOps, strip_scheme

GEN_POINTER = "_generation.json"
GEN_PREFIX = "gen-"
#: provenance sidecar written inside each generation by ``commit``:
#: {"source": <gen it was compacted from>, "files": [rels accounted for],
#:  "carried": {<doomed gen>: [rels carried at prune time]}}. The ``_``
#: prefix hides it from Spark readers and ``PathOps.data_files``.
INPUTS_SIDECAR = "_inputs.json"


#: pseudo-generation name for the pre-migration flat root files; appears
#: in the pointer's history so the first migration's originals get the
#: SAME keep_previous retention as any other superseded generation.
ROOT_GEN = ""


def _gen_dirs(po: PathOps, local: str) -> list[str]:
    """Real generation directories only (``gen-`` + digits) — a
    ``PathOps.commit_stage`` stage or park (``gen-000001__compacting``,
    ``gen-000001__parked``) must never win a corrupt-pointer fallback;
    numeric sort so unpadded names can't misorder."""
    gens = [
        d for d in po.list_dir(local)
        if d.startswith(GEN_PREFIX) and d[len(GEN_PREFIX):].isdigit()
    ]
    return sorted(gens, key=lambda d: int(d[len(GEN_PREFIX):]))


def read_pointer(spark: SparkSession, base: str) -> dict | None:
    po = PathOps(spark, base)
    p = posixpath.join(strip_scheme(base).rstrip("/"), GEN_POINTER)
    if po.exists(p):
        try:
            return json.loads(po.read_text(p))
        except Exception:
            return None
    return None


def resolve(spark: SparkSession, path: str) -> str:
    """``base`` -> ``base/<active generation>`` when a generation pointer
    exists; otherwise the path unchanged. One existence probe.

    A pointer file that exists but is unreadable (truncated PUT, crash
    mid-write) degrades to the HIGHEST existing ``gen-*`` directory —
    the base of a migrated dataset holds only generation subdirs, so
    falling back to the base itself would make every read fail."""
    local = strip_scheme(path).rstrip("/")
    po = PathOps(spark, path)
    p = posixpath.join(local, GEN_POINTER)
    if not po.exists(p):
        return path
    try:
        ptr = json.loads(po.read_text(p))
    except Exception:
        ptr = None
    if ptr and ptr.get("active"):
        return posixpath.join(local, ptr["active"])
    gens = _gen_dirs(po, local)
    if gens:
        return posixpath.join(local, gens[-1])
    return path


def next_generation(spark: SparkSession, base: str) -> str:
    """Name of the next generation directory: one past the max of the
    pointer's active entry and any ``gen-*`` directory actually on disk
    (so a corrupt pointer can never hand out a name that collides with
    an existing, possibly-retained generation)."""
    local = strip_scheme(base).rstrip("/")
    po = PathOps(spark, base)
    ptr = read_pointer(spark, base) or {}
    names = [ptr.get("active", "")] + _gen_dirs(po, local)
    seq = 0
    for name in names:
        if name.startswith(GEN_PREFIX):
            try:
                seq = max(seq, int(name[len(GEN_PREFIX):]))
            except ValueError:
                pass
    return f"{GEN_PREFIX}{seq + 1:06d}"


def _gen_data_rels(po: PathOps, local: str, gen: str) -> list[str]:
    """Relative data-file paths inside generation ``gen`` (``ROOT_GEN``
    = the flat base root, excluding ``gen-*`` subtrees)."""
    src = local if gen == ROOT_GEN else posixpath.join(local, gen)
    rels = []
    for p, _sz in po.data_files(src):
        rel = p[len(src):].lstrip("/")
        if gen == ROOT_GEN and rel.startswith(GEN_PREFIX):
            continue
        rels.append(rel)
    return rels


def _read_inputs(po: PathOps, local: str, gen: str) -> dict | None:
    p = posixpath.join(local, gen, INPUTS_SIDECAR)
    if po.exists(p):
        try:
            return json.loads(po.read_text(p))
        except Exception:
            return None
    return None


def commit(
    spark: SparkSession,
    base: str,
    gen_name: str,
    keep_previous: int = 1,
    source: str | None = None,
    input_files: list[str] | None = None,
) -> dict:
    """Atomically activate ``gen_name`` (single pointer PUT), then prune
    generations more than ``keep_previous`` behind the new active one.
    The pre-migration flat root files participate in retention as a
    pseudo-generation (``ROOT_GEN`` in the history), so the first
    migration keeps in-flight readers of the original files alive for
    exactly as long as any other superseded generation.

    Appender safety (carry-forward): when the caller supplies ``source``
    (the generation the rewrite read from; ``ROOT_GEN`` for a flat root)
    and ``input_files`` (the relative paths it actually read), commit
    re-lists ``source`` immediately before the pointer write and copies
    any straggler append into ``gen_name``, then records the full
    accounted list in ``gen_name``'s ``_inputs.json``. Additionally,
    every generation about to be PRUNED is checked against its
    successor's sidecar and unaccounted files are carried into
    ``gen_name`` too (recorded under ``carried`` so a pending-delete
    retry never re-copies) — all before the PUT, so the carried data
    activates atomically with the new generation. Copy cost ∝ straggler
    bytes, which is bounded by the append rate during one maintenance
    pass, not by dataset size.

    Crash safety: generations leaving the retention window are recorded
    in the pointer's ``pending_delete`` ledger in the SAME single PUT
    that activates the new generation; the deletes run after. A crash
    between the PUT and the deletes leaves them in the ledger, and the
    next commit retries them (deletes are idempotent) — no orphaned
    storage, still one pointer write per commit. Returns the written
    pointer."""
    local = strip_scheme(base).rstrip("/")
    po = PathOps(spark, base)
    prev = read_pointer(spark, base)
    if prev is None and po.exists(posixpath.join(local, GEN_POINTER)):
        # pointer exists but is unreadable (truncated PUT): reconstruct
        # the history from disk so previously-retained generations stay
        # in the retention ledger instead of becoming orphaned storage
        history = [g for g in _gen_dirs(po, local) if g != gen_name]
        if any(
            not p[len(local):].lstrip("/").startswith(GEN_PREFIX)
            for p, _sz in po.data_files(local)
        ):
            history = [ROOT_GEN] + history
    elif prev is None:
        history = [ROOT_GEN]  # the flat originals become generation zero
    else:
        history = [g for g in prev.get("generations", []) if g != gen_name]
    history.append(gen_name)

    # prune plan first, so THE swap is truly one small-object write;
    # unfinished deletes from a crashed previous commit are retried
    cutoff = len(history) - 1 - keep_previous
    doomed = history[:cutoff] if cutoff > 0 else []
    def _still_present(g: str) -> bool:
        if g == ROOT_GEN:
            return any(
                not p[len(local):].lstrip("/").startswith(GEN_PREFIX)
                for p, _sz in po.data_files(local)
            )
        return po.exists(posixpath.join(local, g))

    doomed = [
        g for g in (prev or {}).get("pending_delete", [])
        if g not in doomed and _still_present(g)
    ] + doomed
    retained = history[cutoff:] if cutoff > 0 else history

    # -- carry-forward (all BEFORE the pointer PUT, so carried data
    # activates atomically with the new generation) ------------------------
    new_dir = posixpath.join(local, gen_name)

    def _file_size(p: str) -> int:
        listed = po.list_files(p)
        return listed[0][1] if listed else -1

    def _carry_in(src_file: str, rel: str, tag: str) -> None:
        """Copy one straggler into the new generation. A dst that already
        exists is EITHER this same carry retried (pending_delete retry —
        sizes match: skip, idempotent) OR a different file whose relative
        name collides (e.g. two generations normalized to the same
        deterministic filenames): land the straggler under a
        '-carried-<tag>' disambiguated name instead of silently skipping
        it — a skip would delete the only copy one sweep later while the
        sidecar claims it was carried."""
        dst = posixpath.join(new_dir, rel)
        if not po.exists(dst):
            po.copy_file(src_file, dst)
            return
        if _file_size(dst) == _file_size(src_file):
            return  # same carry, retried
        stem, dot, ext = rel.rpartition(".")
        alt = f"{stem}-carried-{tag}.{ext}" if dot else f"{rel}-carried-{tag}"
        alt_dst = posixpath.join(new_dir, alt)
        if not po.exists(alt_dst):
            po.copy_file(src_file, alt_dst)

    sidecar: dict | None = None
    if source is not None and input_files is not None:
        # stragglers appended to the source generation after the rewrite
        # listed its inputs: re-list now and copy the difference in
        known = set(input_files)
        for rel in _gen_data_rels(po, local, source):
            if rel in known:
                continue
            src_file = (posixpath.join(local, rel) if source == ROOT_GEN
                        else posixpath.join(local, source, rel))
            _carry_in(src_file, rel, source)
            known.add(rel)
        sidecar = {"source": source, "files": sorted(known), "carried": {}}

    # prune-time carry: a doomed generation may hold an append that became
    # visible only after its successor's pre-PUT re-listing; its
    # successor's sidecar tells us which files WERE accounted for, so
    # anything else is carried into the new active generation before the
    # delete. Recorded under "carried" so a pending_delete retry (crash
    # between PUT and deletes) never re-copies — re-copying after the
    # carried rows were compacted onward would duplicate them.
    if doomed:
        # provenance comes from retained AND doomed generations: a doomed
        # generation's sidecar still exists here (deletes run after the
        # PUT), and on a pending_delete retry the successor that read a
        # doomed generation may itself be doomed this round — skipping
        # its sidecar would make the originals look like stragglers and
        # re-copy (duplicate) them
        provenance: list[dict] = []
        for rg in dict.fromkeys([*retained, *doomed]):
            if rg == ROOT_GEN:
                continue  # the flat root never holds a sidecar
            sc = sidecar if rg == gen_name else _read_inputs(po, local, rg)
            if sc:
                provenance.append(sc)
        for g in doomed:
            known_g: set | None = None
            for sc in provenance:
                if sc.get("source") == g:
                    known_g = (known_g or set()) | set(sc.get("files", []))
                if g in sc.get("carried", {}):
                    known_g = (known_g or set()) | set(sc["carried"][g])
            if known_g is None:
                continue  # pre-sidecar legacy generation: old prune behavior
            stragglers = [
                rel for rel in _gen_data_rels(po, local, g) if rel not in known_g
            ]
            for rel in stragglers:
                src_file = (posixpath.join(local, rel) if g == ROOT_GEN
                            else posixpath.join(local, g, rel))
                _carry_in(src_file, rel, g)
            if stragglers:
                if sidecar is None:
                    sidecar = {"source": None, "files": [], "carried": {}}
                sidecar["carried"][g] = sorted(stragglers)
    if sidecar is not None:
        po.write_text(
            posixpath.join(new_dir, INPUTS_SIDECAR), json.dumps(sidecar, indent=2)
        )

    # orphan sweep: a maintenance run that crashed BEFORE its pointer PUT
    # leaves a fully- or half-written gen directory no pointer ever
    # references — permanent garbage (next_generation numbers past it),
    # and worse, the corrupt-pointer fallback in resolve() could pick it.
    # Under the single-maintainer contract, any gen dir that is neither
    # retained, doomed, nor the one being committed is such a leftover;
    # delete it here (idempotent — a crash mid-sweep just retries). A
    # second concurrent maintainer's in-progress directory would match
    # this test too, but concurrent maintainers are already outside the
    # contract (previously they raced last-writer-wins on the pointer;
    # now the loser fails loudly instead of silently).
    referenced = set(retained) | set(doomed) | {gen_name}
    for g in _gen_dirs(po, local):
        if g not in referenced:
            po.delete(posixpath.join(local, g), recursive=True)

    ptr = {
        "active": gen_name,
        "generations": retained,
    }
    if doomed:
        ptr["pending_delete"] = doomed
    po.write_text(posixpath.join(local, GEN_POINTER), json.dumps(ptr, indent=2))

    # the ledger stays in the pointer until the NEXT commit rewrites it —
    # deletes are idempotent, so there is no second PUT to clear it and a
    # crash anywhere below simply means a retry next sweep
    for g in doomed:
        if g == ROOT_GEN:
            # the pre-migration flat files at the base root
            for p, _sz in po.data_files(local):
                rel = p[len(local):].lstrip("/")
                if not rel.startswith(GEN_PREFIX):
                    po.delete(p, recursive=False)
        else:
            po.delete(posixpath.join(local, g), recursive=True)
    return ptr
