"""Named refs over the snapshot store — branches, tags, write-audit-
publish (WAP), and rollback: the governance layer of the lakehouse
protocol (Iceberg refs / Delta shallow-clone-style staging), one level
above the commit protocol in ``operators/snapshots.py``.

Model:

- A BRANCH is an independent snapshot line under
  ``<table>/refs/branch-<name>/snapshots/`` with branch-local version
  numbers, seeded from a main version (its ``base_version``). Branch
  commits reuse the exact main-line machinery — same atomic exclusive-
  link publish, same optimistic-concurrency rebase loop, same append
  builder — pointed at the branch directory. Branch DATA files are
  written under the main table's ``data/`` dir like any commit's:
  immutable, invisible to every reader whose file list omits them, so
  a branch is pure METADATA — creating one copies no data, and main
  readers can never observe staged rows.
- WRITE-AUDIT-PUBLISH: stage appends on a branch
  (:func:`branch_append`), audit them with any read
  (:func:`read_branch` — time travel, pruning, deletes all work,
  because a branch snapshot IS a snapshot), then
  :func:`branch_publish` fast-forwards main: the branch's net-new file
  entries publish as ONE atomic append commit, stats and blooms
  carried verbatim (never recomputed), rebasing over concurrent main
  appends exactly like any commuting commit. A failed audit just
  drops the branch — main never saw anything.
- A TAG is an immutable named pointer ``<table>/refs/tag-<name>.json``
  to a main version. Retention (:func:`snapshots.expire_snapshots`)
  treats tagged versions and every branch snapshot as ROOTS: their
  files survive ``keep_last``, so a tag is a durable audit/repro
  handle ("the exact bytes eval 7 ran on") at zero storage cost.
- ROLLBACK (:func:`snapshot_rollback`) publishes a NEW version whose
  content is an older version's — history is never rewritten (the bad
  version stays inspectable), readers pinned anywhere are untouched,
  and the streaming sink's epoch fences carry from the CURRENT head so
  a rollback can never re-open replay double-appends. Rollback is
  deliberately first-writer-wins with NO rebase: it does not commute
  with anything, so losing a race is a loud :class:`ConcurrentCommitError`.

Scale: every operation here is metadata-sized — O(new files) for a
branch append, O(net-new entries + shards) for a publish, O(1) for
tags and rollback. Nothing reads or rewrites a data file.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from .snapshots import (
    ConcurrentCommitError,
    _COPY,
    _enforce_constraints,
    _meta_entries,
    _new_snap,
    _publish,
    _snap_path,
    _stage_commit,
    build_append_snap,
    current_version,
    publish_with_rebase,
    read_snapshot,
    read_snapshot_meta,
)

_NAME_RE = re.compile(r"^[A-Za-z0-9._-]{1,64}$")


def _check_name(name: str) -> str:
    if not _NAME_RE.match(name):
        raise ValueError(f"invalid ref name {name!r} (alnum . _ - only, <=64 chars)")
    return name


def refs_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "refs")


def branch_dir(table_dir: str, name: str) -> str:
    return os.path.join(refs_dir(table_dir), f"branch-{_check_name(name)}")


def tag_path(table_dir: str, name: str) -> str:
    return os.path.join(refs_dir(table_dir), f"tag-{_check_name(name)}.json")


def list_refs(table_dir: str) -> dict:
    """{'branches': [name, ...], 'tags': {name: version}} — existing refs."""
    d = refs_dir(table_dir)
    out = {"branches": [], "tags": {}}
    if not os.path.isdir(d):
        return out
    for n in sorted(os.listdir(d)):
        if n.startswith("branch-") and os.path.isdir(os.path.join(d, n)):
            out["branches"].append(n[len("branch-"):])
        elif n.startswith("tag-") and n.endswith(".json"):
            with open(os.path.join(d, n)) as f:
                out["tags"][n[len("tag-"):-len(".json")]] = json.load(f)["version"]
    return out


# ---------------------------------------------------------------- branches


def branch_create(table_dir: str, name: str, from_version: int | None = None) -> int:
    """Create branch ``name`` from main version ``from_version``
    (default: current). Pure metadata — branch v1 is a copy of the
    base snapshot's content (every table property but the writer
    fences, like a clone), published atomically into the branch's own
    snapshot line; an existing branch refuses. Returns the base
    version."""
    bdir = branch_dir(table_dir, name)
    base = current_version(table_dir) if from_version is None else from_version
    if base:
        meta = read_snapshot_meta(table_dir, base)  # loud if expired/absent
    else:
        meta = {"files": []}
    try:
        _publish(bdir, 1, _new_snap(0, meta, kind=_COPY, branch=name, base_version=base))
    except ConcurrentCommitError:
        raise ValueError(f"branch {name!r} already exists under {table_dir}") from None
    return base


def branch_head(table_dir: str, name: str) -> int:
    v = current_version(branch_dir(table_dir, name))
    if v == 0:
        raise ValueError(f"no branch {name!r} under {table_dir}")
    return v


def branch_append(
    spark: SparkSession,
    table_dir: str,
    name: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    inline_max: int | None = None,
    merge_schema: bool = False,
    const_stats: dict | None = None,
) -> int:
    """Append ``df`` to branch ``name`` — the WRITE step of WAP. Data
    files land under the main table's ``data/`` (immutable, invisible:
    no main snapshot references them), stats/blooms are scanned once
    at ingest exactly like a main append, and the snapshot publishes
    into the BRANCH line with the same rebase loop, so concurrent
    branch writers commute. Main's current version is untouched.
    Returns the branch-local version.

    ``const_stats`` mirrors :func:`snapshots.snapshot_append`'s footer
    fast path: when every requested stats column is declared constant
    (and no constraints/blooms need a data pass), per-file entries come
    from parquet footers — zero Spark jobs for the stats step."""
    bdir = branch_dir(table_dir, name)
    head_meta = read_snapshot_meta(bdir, branch_head(table_dir, name))
    stats_cols = stats_cols or []
    # branches inherit the base's CHECK constraints at create; staged
    # rows must satisfy them — a WAP audit should never be the first
    # place a declared invariant gets checked. An EMPTY staged append
    # publishes a files-less branch commit, like snapshot_append's.
    _, entries = _stage_commit(
        spark, table_dir, df, stats_cols, bloom_cols,
        constraints=head_meta.get("constraints"), const_stats=const_stats,
    )
    schema = [[f.name, f.dataType.simpleString()] for f in df.schema.fields]

    def make_snap(parent: int, meta: dict) -> dict:
        return build_append_snap(
            table_dir, parent, meta, entries, stats_cols, bloom_cols, inline_max,
            schema=schema, merge_schema=merge_schema, branch=name,
        )

    return publish_with_rebase(bdir, make_snap)


def read_branch(
    spark: SparkSession,
    table_dir: str,
    name: str,
    version: int | None = None,
    prune_col: str | None = None,
    lo=None,
    hi=None,
) -> DataFrame:
    """AUDIT read of a branch — a branch snapshot IS a snapshot, so
    time travel, stats pruning, and merge-on-read deletes all apply."""
    return read_snapshot(spark, branch_dir(table_dir, name), version, prune_col, lo, hi)


def branch_publish(
    table_dir: str,
    name: str,
    merge_schema: bool = False,
    drop: bool = False,
    spark: SparkSession | None = None,
) -> int:
    """PUBLISH step of WAP: fast-forward main by the branch's net-new
    file entries as ONE atomic append commit. Entries carry their
    ingest-time stats, blooms, and row counts VERBATIM — no data file
    is read or rewritten. Commutes with concurrent main appends via
    the shared rebase loop; the published snapshot records
    ``wap_published_branch``/``wap_base_version`` for audit. A branch
    whose schema evolved (branch_append merge_schema) publishes onto
    main only with ``merge_schema=True`` — the same contract a direct
    evolved append faces. ``drop=True`` removes the branch ref after a
    successful publish. Returns the new MAIN version."""
    head = branch_head(table_dir, name)
    bdir = branch_dir(table_dir, name)
    head_meta = read_snapshot_meta(bdir, head)
    base_v1 = read_snapshot_meta(bdir, 1)
    base = base_v1["base_version"]
    # Diff against the BRANCH's own v1 (the pinned copy of the base
    # content), never the main base snapshot — main retention may have
    # expired it while the branch (a retention root) kept its files.
    # On a SHARDED base the diff runs at the SHARD level: branch
    # appends only ADD shards (no branch op re-chunks them), so the
    # shards head references that v1 does not ARE the net-new entries —
    # publish cost O(new shards), not O(total files) (the r12 refs
    # probe measured the full resolve at 243 ms for 65k entries; the
    # shard diff is flat). An INLINE base falls back to the path-set
    # diff (bounded by the inline ceiling, metadata-small by
    # definition) because a later inline->sharded conversion re-chunks
    # OLD entries into new shards, which a shard diff would misread.
    if "manifests" in base_v1 and "manifests" in head_meta:
        from .snapshots import _load_manifest

        base_shards = {r["path"] for r in base_v1["manifests"]}
        new_entries = [
            e
            for rec in head_meta["manifests"]
            if rec["path"] not in base_shards
            for e in _load_manifest(rec["path"])
        ]
    else:
        base_paths = {e["path"] for e in _meta_entries(base_v1)}
        new_entries = [
            e for e in _meta_entries(head_meta) if e["path"] not in base_paths
        ]
    # Constraints added to MAIN after the branch was created were never
    # enforced on the staged rows (branch appends check the BRANCH
    # head's copy) — publishing without re-checking would land rows
    # that violate a declared invariant (round-12 self-review). Scan
    # the net-new files against exactly the main constraints the
    # branch has not enforced; that needs a session, so refuse loudly
    # rather than skip when one wasn't passed.
    main_v = current_version(table_dir)
    main_cons = (
        dict(read_snapshot_meta(table_dir, main_v).get("constraints") or {})
        if main_v
        else {}
    )
    branch_cons = head_meta.get("constraints") or {}
    unenforced = {
        n: e for n, e in main_cons.items() if branch_cons.get(n) != e
    }
    if unenforced and new_entries:
        if spark is None:
            raise ValueError(
                f"main gained CHECK constraint(s) {sorted(unenforced)} after "
                f"branch {name!r} was created; pass spark= so publish can "
                "validate the staged rows against them"
            )
        _enforce_constraints(
            spark,
            unenforced,
            spark.read.parquet(*[e["path"] for e in new_entries]),
        )
    schema = head_meta.get("schema")

    def make_snap(parent: int, meta: dict) -> dict:
        return build_append_snap(
            table_dir,
            parent,
            meta,
            [dict(e) for e in new_entries],  # seq restamped per attempt
            stats_cols=head_meta.get("stats_cols", []),
            bloom_cols=head_meta.get("bloom_cols"),
            schema=schema,
            merge_schema=merge_schema,
            wap_published_branch=name,
            wap_base_version=base,
        )

    v = publish_with_rebase(table_dir, make_snap)
    if drop:
        branch_drop(table_dir, name)
    return v


def branch_drop(table_dir: str, name: str) -> None:
    """Remove a branch ref. Data files only the branch referenced
    become unreferenced (the aborted-commit class: harmless, never
    resolved by any reader) — publish first to keep them."""
    shutil.rmtree(branch_dir(table_dir, name), ignore_errors=True)


# -------------------------------------------------------------------- tags


def tag_create(table_dir: str, name: str, version: int | None = None) -> int:
    """Tag main version ``version`` (default: current) as ``name`` —
    an immutable named pointer, atomically created, refusing an
    existing name. Retention keeps tagged versions and their files
    alive, so a tag pins exact bytes for repro/audit. Returns the
    tagged version."""
    v = current_version(table_dir) if version is None else version
    if v < 1 or not os.path.exists(_snap_path(table_dir, v)):
        raise ValueError(f"cannot tag version {v}: no such snapshot under {table_dir}")
    from .snapshots import link_publish_json

    try:
        link_publish_json(
            refs_dir(table_dir),
            tag_path(table_dir, name),
            {"version": v, "tag": name},
            f"tag {name!r} already exists under {table_dir}",
        )
    except ConcurrentCommitError as exc:
        raise ValueError(str(exc)) from None
    return v


def tag_version(table_dir: str, name: str) -> int:
    p = tag_path(table_dir, name)
    try:
        with open(p) as f:
            return json.load(f)["version"]
    except FileNotFoundError:
        raise ValueError(f"no tag {name!r} under {table_dir}") from None


def read_tag(spark: SparkSession, table_dir: str, name: str, **kw) -> DataFrame:
    return read_snapshot(spark, table_dir, tag_version(table_dir, name), **kw)


def tag_drop(table_dir: str, name: str) -> None:
    try:
        os.remove(tag_path(table_dir, name))
    except FileNotFoundError:
        pass


# ---------------------------------------------------------------- rollback


def snapshot_rollback(table_dir: str, to_version: int) -> int:
    """Roll main back to ``to_version`` by publishing a NEW snapshot
    whose content is the old version's — file lists, shard records,
    stats/bloom declarations, schema, and live equality deletes all
    restore; history stays intact and inspectable (Iceberg rollback
    semantics, never a delete of newer snapshots). Epoch fences carry
    from the CURRENT head — the newest the table has seen — so a
    replayed streaming batch stays fenced after the rollback.
    First-writer-wins with NO rebase: rollback does not commute with
    concurrent commits, so a lost race raises
    :class:`ConcurrentCommitError` for the operator to re-decide."""
    cur = current_version(table_dir)
    if to_version == cur:
        return cur
    try:
        old = read_snapshot_meta(table_dir, to_version)
    except FileNotFoundError:
        raise ValueError(
            f"cannot roll back to version {to_version}: snapshot expired or never "
            f"existed under {table_dir}"
        ) from None
    # the restored version's content, the head's fences (the carry
    # policy's rollback column, snapshots._PROPERTIES)
    head = read_snapshot_meta(table_dir, cur)
    _publish(table_dir, cur + 1, _new_snap(cur, old, head=head, rollback_of=to_version))
    return cur + 1
