"""The triple sink: snapshot + version-pointer commits (the
Iceberg/Delta commit pattern, self-contained).

Bulk jobs (``jobs/kg_job.py``, ``materialize``) and the streaming
runner both commit here.  The store is built on the two primitives
object stores give you, so it needs no rename, lock or journal:

1. **Immutable data files.** Every mutation (append, delete, compact)
   only WRITES new files under ``files/<token>/``; no data file or
   directory is ever renamed or overwritten.  A crash at any point
   before commit leaves unreferenced garbage, never partial state.
2. **One atomic conditional PUT as the commit.** The entire table
   state at version N is one small JSON manifest ``snaps/<N>.json``
   (schema + bucket → data-file-dir map + per-bucket counters +
   run-id lineage).  Publishing it is a create-if-absent of that key:
   locally ``os.link`` of a fully-fsynced temp file onto the final
   name — atomic create-WITH-content, ``EEXIST`` when a concurrent
   committer won (≙ S3 ``If-None-Match: *`` conditional PUT /
   DynamoDB put-if-absent in Delta-on-S3).  The loser re-reads the
   new state and retries — optimistic concurrency, no locks, no
   journal, no roll-forward machinery.

Readers resolve ``max(version)`` → manifest → file list and read
exactly those paths with the manifest's schema: they never list data
directories (at 100 TB, listing is the scan bottleneck; the manifest
IS the file index — Iceberg's core trick), never see a half-applied
mutation (snapshot isolation), and any retained older version remains
readable (time travel, :func:`read_triples` ``version=``).  An
emptied table serves an empty frame with the committed schema, which
lives in the manifest.

Reference analog: the reference's "commit" is a git push of per-file
.ttl outputs (/root/reference/src/action_worker.ts:153-196) — also an
immutable-objects + single-pointer-swap design; this module is that
contract at table scale.

Scale notes (100 TB): manifests stay small because they index
file-DIRECTORIES per bucket, appends commute (conflict retry never
re-writes data), deletes/compacts rewrite only affected buckets'
files (manifest-level pruning: the target buckets are computed from
the conv_id hash alone, so unaffected buckets are neither read nor
listed), and :func:`vacuum` bounds garbage with an age grace so an
in-flight commit's staged files are never collected.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def with_bucket(triples: DataFrame, n_buckets: int = 32) -> DataFrame:
    return triples.withColumn(
        "conv_bucket", F.pmod(F.hash("conv_id"), F.lit(n_buckets))
    )


# above this, conv_id membership switches from a literal IN to a
# broadcast join: a large deletion list (GDPR batch, full-corpus
# re-run) as an IN literal bloats the plan/driver linearly and falls
# out of codegen; joined as a broadcast frame it stays O(1) plan-size
_ISIN_MAX = 1000


def _id_filter(df: DataFrame, conv_ids: list[str], keep: bool) -> DataFrame:
    """Rows of ``df`` whose conv_id is (keep=True) / is not (False) in
    ``conv_ids`` — literal IN for small lists, broadcast semi/anti
    join for large ones."""
    if len(conv_ids) <= _ISIN_MAX:
        # coalesce the tri-valued isin to FALSE so a NULL conv_id row
        # behaves like the join path: never "in" the list — kept on
        # delete, dropped on keep (~NULL is NULL, which would silently
        # delete null-key rows only below the threshold)
        cond = F.coalesce(F.col("conv_id").isin(conv_ids), F.lit(False))
        return df.filter(cond if keep else ~cond)
    ids = F.broadcast(
        df.sparkSession.createDataFrame(
            [(c,) for c in set(conv_ids)], "conv_id string"))
    return (
        df.join(ids, "conv_id", "left_semi" if keep else "left_anti")
        # the join hoists the key column to the front; keep the frame's
        # column order identical to the filter path so written files
        # share one layout
        .select(*df.columns)
    )


def input_run_id(df: DataFrame) -> str:
    """A run id naming the input files ``df`` reads: a rerun over the
    same files gets the same id, so :func:`commit_append` skips it.  A
    frame that reads no files has nothing to name and raises — that
    includes a frame over a persisted one, whose plan hides its files
    (take the id from the file-backed input instead)."""
    files = sorted(df.inputFiles())
    if not files:
        raise ValueError(
            "input_run_id: the frame reads no input files; derive the "
            "run id from the file-backed input frame")
    return "input-" + hashlib.sha256(
        "\n".join(files).encode()).hexdigest()[:32]


# test seam: called between data-file write and manifest publish
_commit_fail_injector = None


def _snaps_dir(root: str) -> str:
    return os.path.join(root, "snaps")


def _files_dir(root: str) -> str:
    return os.path.join(root, "files")


def current_version(root: str) -> int | None:
    sd = _snaps_dir(root)
    if not os.path.isdir(sd):
        return None
    vs = [int(n[:-5]) for n in os.listdir(sd) if n.endswith(".json")]
    return max(vs) if vs else None


def _load_version(root: str, version: int) -> dict:
    with open(os.path.join(_snaps_dir(root), f"{version:012d}.json")) as f:
        return json.load(f)


def _load_current(root: str) -> dict:
    v = current_version(root)
    if v is None:
        return {"version": 0, "schema": None, "buckets": {},
                "run_ids": [], "counters": {}, "op": "init"}
    return _load_version(root, v)


def _publish(root: str, manifest: dict) -> bool:
    """Atomically create ``snaps/<version>.json`` with full content.

    ``os.link`` of a fsynced temp file is create-if-absent WITH the
    content already durable — the local-FS analog of an object-store
    conditional PUT.  Returns False when a concurrent committer
    already published this version (the caller re-reads and retries).
    """
    sd = _snaps_dir(root)
    os.makedirs(sd, exist_ok=True)
    final = os.path.join(sd, f"{manifest['version']:012d}.json")
    tmp = final + f".tmp-{os.getpid()}-{os.urandom(4).hex()}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _write_data_files(df: DataFrame, root: str, token: str) -> dict[str, str]:
    """Write one commit's rows as immutable per-bucket parquet dirs.

    ``conv_bucket`` stays a DATA column (Iceberg keeps partition
    values in metadata, not paths); ``_bp`` is a throwaway partition
    directory so each bucket's files land in their own leaf dir, which
    is what the manifest indexes.  Readers open leaf dirs directly —
    no partition discovery, so ``_bp`` never resurfaces.
    Returns {bucket: root-relative leaf dir} for non-empty buckets.
    """
    fdir = os.path.join(_files_dir(root), token)
    (
        df.withColumn("_bp", F.col("conv_bucket"))
        .repartition("conv_bucket")
        .write.mode("error").partitionBy("_bp").parquet(fdir)
    )
    return {
        d.split("=", 1)[1]: os.path.join("files", token, d)
        for d in os.listdir(fdir) if d.startswith("_bp=")
    }


def _token() -> str:
    """A fresh name: epoch milliseconds plus random bits, so two calls
    in the same millisecond never collide."""
    return f"{int(time.time() * 1000)}-{os.urandom(4).hex()}"


def _data_schema(df: DataFrame) -> str:
    return StructType(list(df.schema.fields)).json()


def commit_append(
    triples: DataFrame, root: str, n_buckets: int = 32,
    run_id: str | None = None, retries: int = 10,
    max_run_history: int = 10_000,
) -> dict:
    """Append triples as a new snapshot; idempotent under replay.

    A ``run_id`` already present in the current manifest's lineage is
    skipped without writing (exact resume for at-least-once
    schedulers); without one, the commit gets a fresh id.  Publish
    conflicts are retried against the re-read state — appends commute,
    so the already-written data files are reused verbatim.  An empty
    ``triples`` frame publishes no version (it is not recorded as a
    run either: a replay is as cheap).

    The lineage carried in each manifest is bounded to the newest
    ``max_run_history`` run_ids so manifests stay small at any commit
    count; replay detection is therefore guaranteed within that window
    — the standard shape of a bounded idempotence horizon (schedulers
    replay recent work, not work 10k commits old).
    """
    spark = triples.sparkSession
    run_id = run_id or f"run-{_token()}"
    cur = _load_current(root)
    if run_id in cur["run_ids"]:
        return {"run_id": run_id, "version": cur["version"],
                "skipped": True, "n_triples": 0}
    # the bucket function is a TABLE property, not a call-site choice:
    # rows are placed by pmod(hash(conv_id), n_buckets) at append time,
    # and delete_conversations prunes buckets by re-deriving that hash —
    # a different n later would silently prune the WRONG buckets and
    # leave deleted rows alive.  First append fixes it; later appends
    # must match (Iceberg: bucket(N, col) is part of the partition spec).
    stored = cur.get("n_buckets")
    if stored is not None and stored != n_buckets:
        raise ValueError(
            f"table at {root} is bucketed with n_buckets={stored}; "
            f"append requested {n_buckets} — bucket pruning would break")

    # persist across the two actions below: the counters agg and the
    # data-file write would otherwise each evaluate the full upstream
    # lineage (arbitrary caller plans — e.g. the whole KG pipeline).
    # Clustering on conv_bucket before the cache is the commit's one
    # shuffle: the per-bucket aggregate and the write's own
    # repartition then plan no exchange over the cached rows
    df = with_bucket(triples, n_buckets).repartition("conv_bucket")
    df = df.persist()
    try:
        counters = {
            str(r.conv_bucket): {"n_triples": r.n_triples,
                                 "n_convs": r.n_convs}
            for r in df.groupBy("conv_bucket").agg(
                F.count("*").alias("n_triples"),
                F.countDistinct("conv_id").alias("n_convs"),
            ).collect()
        }
        if not counters:
            # nothing to append: publishing would add an empty version
            return {"run_id": run_id, "version": cur["version"],
                    "skipped": True, "n_triples": 0}
        new_dirs = _write_data_files(df, root, _token())
    finally:
        df.unpersist()
    if _commit_fail_injector is not None:
        _commit_fail_injector()  # crash seam: files written, no commit
    schema = _data_schema(df)

    for _ in range(retries):
        cur = _load_current(root)
        if run_id in cur["run_ids"]:  # a concurrent replay beat us
            return {"run_id": run_id, "version": cur["version"],
                    "skipped": True, "n_triples": 0}
        if cur.get("n_buckets") not in (None, n_buckets):
            # a concurrent first-append won the race with a different
            # bucket spec; our staged files are mis-bucketed for this
            # table — abandon them to vacuum rather than commit them
            raise ValueError(
                f"table at {root} is bucketed with "
                f"n_buckets={cur.get('n_buckets')}; append requested "
                f"{n_buckets} — bucket pruning would break")
        buckets = {b: list(dirs) for b, dirs in cur["buckets"].items()}
        for b, d in new_dirs.items():
            buckets.setdefault(b, []).append(d)
        man = {
            "version": cur["version"] + 1, "op": "append",
            "parent": cur["version"] or None, "schema": schema,
            "n_buckets": n_buckets,
            "buckets": buckets,
            # the dirs THIS commit added, recorded at commit time so an
            # incremental scan (read_changes) resolves a version's new
            # rows from its own manifest — no parent diffing, no listing
            "added_dirs": sorted(new_dirs.values()),
            "run_ids": (cur["run_ids"] + [run_id])[-max_run_history:],
            "counters": counters,
        }
        if _publish(root, man):
            return {"run_id": run_id, "version": man["version"],
                    "skipped": False,
                    "n_triples": sum(c["n_triples"]
                                     for c in counters.values())}
    raise RuntimeError(f"commit_append: lost {retries} publish races")


def _read_dirs(spark: SparkSession, root: str, man: dict,
               buckets: list[str] | None = None) -> DataFrame:
    sel = man["buckets"] if buckets is None else {
        b: man["buckets"][b] for b in buckets if b in man["buckets"]}
    dirs = [os.path.join(root, d) for ds in sel.values() for d in ds]
    if not dirs or man["schema"] is None:
        schema = (StructType.fromJson(json.loads(man["schema"]))
                  if man["schema"] else StructType([]))
        return spark.createDataFrame([], schema)
    return spark.read.schema(
        StructType.fromJson(json.loads(man["schema"]))).parquet(*dirs)


def read_triples(spark: SparkSession, root: str,
                 version: int | None = None) -> DataFrame:
    """Read the table at ``version`` (default: latest).  Pure manifest
    resolution — no directory listing, no recovery path to run: an
    uncommitted mutation is invisible by construction."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots under {root}")
    return _read_dirs(spark, root, _load_version(root, v))


def read_conversations(spark: SparkSession, root: str,
                       conv_ids: list[str],
                       version: int | None = None) -> DataFrame:
    """Point-lookup read: rows of exactly these conversations, touching
    ONLY the buckets that can hold them.  The target buckets are
    derived from the ids and the table's bucket spec alone (same
    manifest-level pruning the delete path uses), so at 100 TB a
    subject-access read (GDPR export, per-conversation re-serialize —
    the reference's unit of work is one document,
    action_worker.ts:108-151) scans ~len(ids)/n_buckets of the table's
    buckets instead of all of it, and never lists a directory."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots under {root}")
    man = _load_version(root, v)
    nb = man.get("n_buckets")
    # a table without a recorded bucket spec cannot be pruned soundly —
    # fall back to reading every bucket (still manifest-resolved)
    targets = None if nb is None else _target_buckets(spark, conv_ids, nb)
    df = _read_dirs(spark, root, man, targets)
    return _id_filter(df, conv_ids, keep=True)


def read_changes(spark: SparkSession, root: str, from_version: int,
                 to_version: int | None = None) -> DataFrame:
    """Rows APPENDED in versions ``(from_version, to_version]`` — the
    incremental batch source of SURVEY §A1 (Iceberg's
    ``start-snapshot-id``/``end-snapshot-id`` append scan; the
    reference analog is the webhook's ``{from, till}`` commit range,
    /root/reference/src/action_worker.ts:73-95).

    Resolution is pure manifest metadata: every append commit records
    the data dirs it added (``added_dirs``), so the changes scan reads
    exactly those immutable files — no directory listing, no diffing
    of bucket maps, no touching rows outside the range.  At 100 TB an
    incremental consumer (downstream re-index, CDC-style export)
    therefore does work proportional to the CHANGE, not the table.

    Semantics match Iceberg's incremental append scan: a ``delete``
    commit inside the range raises (removed rows cannot be represented
    in an append-only changes frame — the caller must fall back to a
    full read of ``to_version``), and ``compact`` commits contribute
    nothing (they rewrite existing rows; their files are not new data).
    ``from_version=0`` reads every append since table creation.
    Versions older than the vacuum horizon raise FileNotFoundError."""
    v_to = current_version(root) if to_version is None else to_version
    if v_to is None:
        raise FileNotFoundError(f"no snapshots under {root}")
    if from_version > v_to:
        raise ValueError(
            f"from_version {from_version} > to_version {v_to}")
    dirs: list[str] = []
    schema = None
    for v in range(from_version + 1, v_to + 1):
        m = _load_version(root, v)
        schema = m["schema"] or schema
        if m["op"] == "delete":
            raise ValueError(
                f"version {v} is a delete: the range "
                f"({from_version}, {v_to}] is not append-only — "
                "read the full table at to_version instead")
        if m["op"] == "append":
            added = m.get("added_dirs")
            if added is None:
                # manifest predates added_dirs: reconstruct from the
                # parent's bucket map (both manifests are metadata-only)
                parent = (_load_version(root, m["parent"])["buckets"]
                          if m.get("parent") else {})
                old = {d for ds in parent.values() for d in ds}
                added = sorted(
                    d for ds in m["buckets"].values() for d in ds
                    if d not in old)
            dirs.extend(added)
    if schema is None:  # empty range: serve the table schema
        schema = _load_version(root, v_to)["schema"]
    st = (StructType.fromJson(json.loads(schema))
          if schema else StructType([]))
    if not dirs:
        return spark.createDataFrame([], st)
    return spark.read.schema(st).parquet(
        *(os.path.join(root, d) for d in dirs))


def snapshots(root: str) -> list[dict]:
    """Commit log, oldest first: (version, op, parent, run lineage)."""
    v = current_version(root)
    if v is None:
        return []
    out = []
    for n in sorted(os.listdir(_snaps_dir(root))):
        if n.endswith(".json"):
            m = _load_version(root, int(n[:-5]))
            out.append({"version": m["version"], "op": m["op"],
                        "parent": m.get("parent"),
                        "n_buckets": len(m["buckets"]),
                        "run_ids": m["run_ids"]})
    return out


def _target_buckets(spark: SparkSession, conv_ids: list[str],
                    n_buckets: int) -> list[str]:
    """Buckets that can possibly hold these conv_ids — computed from
    the ids alone (manifest-level pruning; no data is read)."""
    if not conv_ids:
        return []
    ids_df = spark.createDataFrame([(c,) for c in conv_ids], ["conv_id"])
    return [str(r.conv_bucket) for r in
            with_bucket(ids_df, n_buckets).select("conv_bucket")
            .distinct().collect()]


def delete_conversations(
    spark: SparkSession, root: str, conv_ids: list[str],
    n_buckets: int | None = None, retries: int = 5,
) -> dict:
    """Remove conversations by committing a snapshot whose affected
    buckets point at freshly-written survivor files.  Unaffected
    buckets' entries are carried over untouched (their data is never
    read, listed, or rewritten).  A publish conflict re-reads state
    and redoes the rewrite — correctness over cleverness; the orphaned
    attempt is vacuum()'s problem.

    ``n_buckets`` is read from the table manifest (it is a table
    property fixed at first append); passing a conflicting explicit
    value raises rather than silently pruning the wrong buckets."""
    stored = _load_current(root).get("n_buckets")
    if n_buckets is not None and stored is not None and n_buckets != stored:
        raise ValueError(
            f"table at {root} is bucketed with n_buckets={stored}; "
            f"delete requested {n_buckets} — bucket pruning would break")
    nb = stored if stored is not None else (n_buckets or 32)
    targets = _target_buckets(spark, conv_ids, nb)
    for _ in range(retries):
        cur = _load_current(root)
        affected = [b for b in targets if b in cur["buckets"]]
        if not affected:
            return {"version": cur["version"], "buckets_rewritten": 0,
                    "triples_removed": 0}
        before = _read_dirs(spark, root, cur, affected)
        # two scans of the affected buckets' (already-materialized)
        # parquet: one counting the removed rows, one writing survivors
        # — not three (a count + a post-write read-back); the writer's
        # own error mode covers durability
        n_removed = _id_filter(before, conv_ids, keep=True).count()
        kept = _id_filter(before, conv_ids, keep=False)
        new_dirs = _write_data_files(kept, root, _token())
        if _commit_fail_injector is not None:
            _commit_fail_injector()
        buckets = {b: list(ds) for b, ds in cur["buckets"].items()
                   if b not in affected}
        for b, d in new_dirs.items():
            buckets[b] = [d]  # emptied buckets simply have no entry
        man = {
            "version": cur["version"] + 1, "op": "delete",
            "parent": cur["version"], "schema": cur["schema"],
            "n_buckets": cur.get("n_buckets"),
            "buckets": buckets, "run_ids": cur["run_ids"],
            "added_dirs": sorted(new_dirs.values()),
            "counters": {},
        }
        if _publish(root, man):
            return {"version": man["version"],
                    "buckets_rewritten": len(affected),
                    "triples_removed": n_removed}
    raise RuntimeError(f"delete_conversations: lost {retries} races")


def compact(spark: SparkSession, root: str, min_dirs: int = 2,
            retries: int = 5) -> dict:
    """Rewrite every bucket referenced by >= ``min_dirs`` data dirs
    into one dir (Iceberg rewrite_data_files analog): appends
    accumulate a dir per commit per bucket; compaction bounds read
    fan-in without blocking readers (old snapshots stay readable)."""
    for _ in range(retries):
        cur = _load_current(root)
        frag = [b for b, ds in cur["buckets"].items() if len(ds) >= min_dirs]
        if not frag:
            return {"version": cur["version"], "buckets_compacted": 0}
        merged = _read_dirs(spark, root, cur, frag)
        new_dirs = _write_data_files(merged, root, _token())
        buckets = {b: (list(ds) if b not in frag else [new_dirs[b]])
                   for b, ds in cur["buckets"].items() if
                   b not in frag or b in new_dirs}
        man = {
            "version": cur["version"] + 1, "op": "compact",
            "parent": cur["version"], "schema": cur["schema"],
            "n_buckets": cur.get("n_buckets"),
            "buckets": buckets, "run_ids": cur["run_ids"],
            "added_dirs": sorted(new_dirs.values()),
            "counters": {},
        }
        if _publish(root, man):
            return {"version": man["version"],
                    "buckets_compacted": len(frag)}
    raise RuntimeError(f"compact: lost {retries} races")


def vacuum(root: str, keep_last: int = 1, grace_s: float = 3600.0) -> dict:
    """Garbage-collect data dirs unreferenced by the ``keep_last``
    newest snapshots, and drop older snapshot manifests.  ``grace_s``
    protects an in-flight commit: a token dir younger than the grace
    may belong to files written but not yet published, so it is never
    collected (object-store vacuums use the same age guard)."""
    v = current_version(root)
    if v is None:
        return {"data_dirs_removed": 0, "snapshots_removed": 0}
    retained_versions = [int(n[:-5]) for n in os.listdir(_snaps_dir(root))
                         if n.endswith(".json")]
    retained_versions.sort()
    keep = set(retained_versions[-max(keep_last, 1):])
    referenced: set[str] = set()
    for kv in keep:
        m = _load_version(root, kv)
        for ds in m["buckets"].values():
            # dir is files/<token>/_bp=N -> token is path component 2
            referenced.update(d.split(os.sep)[1] for d in ds)
    removed_data = 0
    fd = _files_dir(root)
    now = time.time()
    if os.path.isdir(fd):
        for token in os.listdir(fd):
            p = os.path.join(fd, token)
            if token in referenced:
                continue
            if now - os.path.getmtime(p) < grace_s:
                continue  # possibly an in-flight commit's staged files
            shutil.rmtree(p, ignore_errors=True)
            removed_data += 1
    removed_snaps = 0
    for ver in retained_versions:
        if ver not in keep:
            os.remove(os.path.join(_snaps_dir(root), f"{ver:012d}.json"))
            removed_snaps += 1
    return {"data_dirs_removed": removed_data,
            "snapshots_removed": removed_snaps}
