"""Durable content-addressed posture staging (r11 verdict item 1).

Every performance posture this engine stages — the orderkey bucket
family (q3/q5 star), the parse-once typed-JSON copy of events, and the
IVM rollup partials — used to live under an applicationId-namespaced
path, so a NEW session always paid the full staging cost before any
warm plan existed (24.7 s bucket write at sf10). This module makes the
staged artifacts durable across sessions without sacrificing either
correctness or concurrent-writer safety:

- **Content-addressed location.** An artifact's path is keyed by a
  digest of its SOURCE table files — (table, relpath, size, mtime_ns)
  for every data file of every input table. Identical corpus ->
  identical digest -> a fresh session finds the previous session's
  investment. Any change to the corpus (new file, rewrite, append)
  changes the digest, so a stale artifact can never be read against a
  mutated source: the next call misses and rebuilds (the invalidation
  rule is the address itself).

- **Scratch-then-publish.** Writers build into a PRIVATE scratch
  directory (namespaced by applicationId — the concurrent-writer
  staging area the old scheme was) and publish with one atomic
  ``os.rename`` onto the final digest path. Two racing sessions both
  build; exactly one rename wins; the loser discards its scratch and
  reads the winner's artifact — the same first-writer-wins shape as
  _tv_commit's manifest link, at directory granularity.

- **Manifest gate.** A published artifact contains
  ``_sparkflow_manifest.json`` (written into scratch BEFORE the
  rename, so publication is all-or-nothing) recording the source
  digest inputs; its presence is the completion marker, replacing the
  per-scheme _SUCCESS checks. A crashed writer leaves only an
  unpublished scratch, never a half-visible artifact.

At 100 TB the same protocol holds with an object store's atomic
rename/commit (or a _tv_commit-style manifest link when rename isn't
atomic); the digest inputs would come from the table format's snapshot
id instead of file stats — one line to swap, same invalidation rule.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

_TMP = "/tmp/sparkflow_io"
SHARED_ROOT = os.path.join(_TMP, "shared")
_MANIFEST = "_sparkflow_manifest.json"


def _table_files(sf_dir: str, tname: str):
    """Data files backing one fixture table (single parquet file or a
    directory dataset), sorted for digest stability."""
    p = os.path.join(sf_dir, f"{tname}.parquet")
    if os.path.isfile(p):
        return [p]
    out = []
    if os.path.isdir(p):
        for root, _dirs, files in os.walk(p):
            for f in files:
                if not f.startswith(("_", ".")):
                    out.append(os.path.join(root, f))
    return sorted(out)


class CorpusEmptyError(FileNotFoundError):
    """corpus_digest scanned the corpus and found ZERO data files for
    the requested tables — a deterministic outcome of the listing (the
    tables are gone, or sf_dir itself is), distinct from a per-file
    os.stat FileNotFoundError, which can be a TRANSIENT race (r15
    advice: a concurrent corpus rewrite deleting a listed file between
    listing and stat must not class a warm artifact as undigestable).
    staging_vacuum keys its permanent/transient split on this type."""


def corpus_digest(sf_dir: str, tables) -> str:
    """Digest of the (path, size, mtime_ns) set of every data file of
    `tables` under `sf_dir` — the content address staged artifacts live
    under. mtime_ns + size is the Delta/Iceberg-grade staleness signal
    for raw parquet (a rewrite bumps mtime even at equal size); actual
    byte hashing would read 100 TB to save a cold rebuild, the wrong
    trade. Raises CorpusEmptyError (deterministic: the listing found no
    data files) or plain OSError/FileNotFoundError from per-file stat
    (possibly transient: file vanished between listing and stat)."""
    items = []
    for t in sorted(set(tables)):
        for f in _table_files(sf_dir, t):
            st = os.stat(f)
            items.append(
                (t, os.path.relpath(f, sf_dir), st.st_size, st.st_mtime_ns)
            )
    if not items:
        raise CorpusEmptyError(
            f"no data files for tables {sorted(set(tables))!r} under {sf_dir}"
        )
    payload = json.dumps(items, separators=(",", ":")).encode()
    return hashlib.sha256(payload).hexdigest()[:20]


def shared_path(kind: str, sf_dir: str, tables, name: str) -> str:
    """Final (published) location for artifact `name` of family `kind`
    derived from `tables` at `sf_dir`'s current content digest."""
    return os.path.join(SHARED_ROOT, kind, corpus_digest(sf_dir, tables), name)


def is_published(path: str) -> bool:
    return os.path.exists(os.path.join(path, _MANIFEST))


def scratch_path(final: str, app_id: str) -> str:
    """Writer-private build dir BESIDE the final path (same filesystem,
    so the publishing rename is atomic), namespaced by applicationId —
    concurrent processes never share a scratch."""
    safe = "".join(c if c.isalnum() or c in "-_" else "_" for c in app_id)
    # no leading dot: Hadoop's path filter treats dot-directories as
    # hidden, which makes the bucketed saveAsTable's own post-commit
    # file-index refresh see zero files (warn-noise; and any future
    # validating read of the scratch would silently be empty). Nothing
    # lists the digest parent, so visibility costs nothing.
    return os.path.join(
        os.path.dirname(final), f"scratch-{safe}-{os.path.basename(final)}"
    )


def publish(scratch: str, final: str, manifest: dict) -> None:
    """Atomically promote a completed scratch build to the final path.
    The manifest lands inside scratch FIRST, so a published directory
    always carries its completion marker; losing the rename race to a
    concurrent publisher is success (their artifact is equivalent by
    construction — same digest address)."""
    with open(os.path.join(scratch, _MANIFEST), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    try:
        os.rename(scratch, final)
    except OSError:
        if is_published(final):
            shutil.rmtree(scratch, ignore_errors=True)
        else:
            raise


def unpublish(kind: str, sf_dir: str, tables, name: str) -> None:
    """Remove a published artifact (test cleanup; never called from a
    query path). A corpus that lacks some of
    the artifact's source tables cannot have the artifact published
    (the digest is uncomputable), so there is nothing to retract."""
    try:
        final = shared_path(kind, sf_dir, tables, name)
    except FileNotFoundError:
        return
    shutil.rmtree(final, ignore_errors=True)


def session_dir(spark, sf_dir: str, tables, kind: str) -> str:
    """`<_TMP>/<kind>/<applicationId>/<corpus_digest(sf_dir, tables)>`;
    a corpus with no local data files to digest is addressed by a hash
    of its path instead."""
    try:
        key = corpus_digest(sf_dir, tables)
    except OSError:
        key = "path-" + hashlib.sha256(
            sf_dir.rstrip("/").encode()).hexdigest()[:20]
    return os.path.join(_TMP, kind, spark.sparkContext.applicationId, key)


def session_fixture(spark, sf_dir: str, tables, kind: str, write) -> str:
    """The directory of session fixture `kind`: the staged input a
    registered key reads (a foreign-format copy, a partitioned layout,
    a sink's output), built from `tables` at `sf_dir`.

    The fixture rule: a fixture is built once per session and corpus
    content, at session_dir — the applicationId keeps concurrent
    processes apart, and the corpus digest keeps apart two corpora of
    the same name and a corpus before and after an in-place rewrite.
    On a miss write(scratch) fills a private scratch directory, which
    one os.rename publishes with its manifest: an interrupted build is
    never served, and a published fixture never changes, so every plan
    built over it stays readable. Tables whose manifests hold absolute
    data paths cannot be renamed into place; they take session_dir
    alone and guard each committed version themselves."""
    final = session_dir(spark, sf_dir, tables, kind)
    if not is_published(final):
        scratch = scratch_path(final, spark.sparkContext.applicationId)
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)
        write(scratch)
        publish(scratch, final, {"kind": kind,
                                 "sf_dir": os.path.abspath(sf_dir),
                                 "tables": sorted(set(tables))})
    return final


def stage_parquet(spark, kind: str, sf_dir: str, tables, name: str, build):
    """Build-or-reuse: return a DataFrame over the published artifact
    `(kind, name)` for `sf_dir`'s current corpus digest. A miss triggers
    build() -> parquet into the app-scoped scratch, then an atomic
    publish. Called only by maintenance keys and the bucket-family
    keys, which always build what they serve."""
    final = shared_path(kind, sf_dir, tables, name)
    if not is_published(final):
        scratch = scratch_path(final, spark.sparkContext.applicationId)
        build().write.mode("overwrite").parquet(scratch)
        publish(scratch, final, {
            "kind": kind, "name": name, "sf_dir": os.path.abspath(sf_dir),
            "tables": sorted(set(tables)),
            "app_id": spark.sparkContext.applicationId,
        })
    # drop any session-level file-listing cache for this path: a
    # republication at the SAME address (retract + restage in one
    # session, or another session's publish) writes new part files,
    # and Spark's shared FileStatusCache would otherwise hand a fresh
    # Dataset the OLD listing — FAILED_READ_FILE at execution
    # (review r13; cold-resolve-only cost, the hot path reads
    # memoized handles)
    spark.catalog.refreshByPath(final)
    return spark.read.parquet(final)


def staging_vacuum(min_age_sec: float = 3600.0) -> dict:
    """Garbage-collect the shared staging root (r12 lifecycle
    completion): content addressing makes stale artifacts UNREACHABLE
    the moment their source corpus changes (the digest is the address),
    but nothing reclaimed them — a long-lived host accretes one
    orphaned artifact set per corpus generation plus one abandoned
    scratch per crashed writer. Removes, under the same min-age
    contract as _tv_vacuum (io.py):

    - **scratch-*** build dirs older than `min_age_sec` — a crashed
      writer's leavings (a LIVE writer's scratch is younger than the
      window by construction: builds publish promptly or die);
    - **published artifacts whose recorded corpus no longer digests to
      their address** (mutated or deleted source tables), once the
      manifest is older than `min_age_sec` — the window bounds how long
      an already-open reader (which resolved the path before the corpus
      mutated) may keep scanning, exactly _tv_vacuum's open-reader
      contract;
    - unreadable/manifest-less directories at artifact depth, treated
      as stale under the same age rule (dir mtime);
    - empty digest/kind parents left behind.

    Live artifacts — those whose manifest's (sf_dir, tables) still
    digest to their own address — are NEVER removed, at any age: the
    current corpus keeps its warm postures. Returns a summary dict
    (counts per outcome) so operators can alert on runaway growth.
    Never called from a query path."""
    import time

    now = time.time()
    out = {"removed_scratch": 0, "removed_stale": 0, "removed_undigestable": 0,
           "kept_live": 0, "kept_young": 0}
    if not os.path.isdir(SHARED_ROOT):
        return out

    def _age_ok(path: str) -> bool:
        try:
            return now - os.stat(path).st_mtime >= min_age_sec
        except OSError:
            return False

    for kind in sorted(os.listdir(SHARED_ROOT)):
        kdir = os.path.join(SHARED_ROOT, kind)
        if not os.path.isdir(kdir):
            continue
        for digest in sorted(os.listdir(kdir)):
            ddir = os.path.join(kdir, digest)
            if not os.path.isdir(ddir):
                continue
            for name in sorted(os.listdir(ddir)):
                adir = os.path.join(ddir, name)
                if not os.path.isdir(adir):
                    continue
                if name.startswith("scratch-"):
                    if _age_ok(adir):
                        shutil.rmtree(adir, ignore_errors=True)
                        out["removed_scratch"] += 1
                    else:
                        out["kept_young"] += 1
                    continue
                manifest = os.path.join(adir, _MANIFEST)
                live = False
                undigestable = False
                unverifiable = False
                m = None
                try:
                    with open(manifest, encoding="utf-8") as fh:
                        m = json.load(fh)
                except (OSError, ValueError):
                    # missing/corrupt manifest — nothing can ever
                    # resolve this address again
                    undigestable = True
                if m is not None:
                    try:
                        live = corpus_digest(
                            m["sf_dir"], m["tables"]
                        ) == digest
                    except KeyError:
                        undigestable = True  # malformed manifest body
                    except CorpusEmptyError:
                        # r14 advice, narrowed per r15 advice: ONLY the
                        # deterministic zero-data-files listing outcome
                        # (tables permanently deleted, or the dir gone)
                        # is undigestable — keeping such addresses as
                        # 'unverifiable' every sweep is a disk leak.
                        undigestable = True
                    except OSError:
                        # r13 advice: a transient I/O failure reading
                        # the SOURCE corpus must not class a live warm
                        # artifact as garbage. This branch now also
                        # catches per-file stat FileNotFoundError (r15
                        # advice: a concurrent corpus rewrite can
                        # delete a listed file between listing and
                        # stat — transient, and a rewritten corpus
                        # yields a fresh digest next sweep anyway).
                        # Only when the corpus directory itself is gone
                        # (the ephemeral scale-rung case) is the
                        # address permanently unresolvable; an
                        # existing-but-unreadable source is kept and
                        # re-checked next sweep.
                        if os.path.isdir(str(m.get("sf_dir", ""))):
                            unverifiable = True
                        else:
                            undigestable = True
                if live:
                    out["kept_live"] += 1
                elif unverifiable:
                    out["kept_unverifiable"] = (
                        out.get("kept_unverifiable", 0) + 1
                    )
                elif _age_ok(manifest if os.path.exists(manifest) else adir):
                    shutil.rmtree(adir, ignore_errors=True)
                    out["removed_stale" if not undigestable
                        else "removed_undigestable"] += 1
                else:
                    out["kept_young"] += 1
            # reclaim empty parents (racing creators re-mkdir on demand)
            for parent in (ddir, kdir):
                try:
                    os.rmdir(parent)
                except OSError:
                    break
    return out
