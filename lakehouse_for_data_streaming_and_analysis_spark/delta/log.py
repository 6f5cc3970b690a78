"""Commit-log primitives: action encoding, atomic versioned commits,
snapshot replay (see package docstring for protocol scope)."""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field

LOG_SUBDIR = "_delta_log"


class ConcurrentCommitError(Exception):
    """Another writer committed this version first (put-if-absent
    lost). Appends retry automatically; conflicting rewrites surface
    the error to the caller — the same split Delta's OCC makes."""


def log_path(table_path: str) -> str:
    return os.path.join(table_path, LOG_SUBDIR)


def version_file(table_path: str, version: int) -> str:
    return os.path.join(log_path(table_path), f"{version:020d}.json")


def list_versions(table_path: str) -> list[int]:
    d = log_path(table_path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


def write_commit(
    table_path: str, version: int, actions: list[dict]
) -> None:
    """Atomically create ``<version>.json`` (O_EXCL put-if-absent —
    the local/HDFS LogStore contract). One JSON action per line, as
    the protocol specifies."""
    os.makedirs(log_path(table_path), exist_ok=True)
    path = version_file(table_path, version)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as e:
        raise ConcurrentCommitError(
            f"version {version} already committed at {path}"
        ) from e
    with os.fdopen(fd, "w") as f:
        for a in actions:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")


def read_commit(table_path: str, version: int) -> list[dict]:
    with open(version_file(table_path, version)) as f:
        return [json.loads(line) for line in f if line.strip()]


def commit_info(
    operation: str, operation_metrics: dict | None = None, **params
) -> dict:
    info = {
        "timestamp": int(time.time() * 1000),
        "operation": operation,
        "operationParameters": {
            k: json.dumps(v) if not isinstance(v, str) else v
            for k, v in params.items()
        },
    }
    if operation_metrics:
        # string-valued, as Delta writes them
        info["operationMetrics"] = {
            k: str(v) for k, v in operation_metrics.items()
        }
    return {"commitInfo": info}


@dataclass
class Snapshot:
    version: int = -1
    metadata: dict = field(default_factory=dict)
    protocol: dict = field(default_factory=dict)
    # path -> add action payload (live files only)
    files: dict[str, dict] = field(default_factory=dict)
    # path -> remove action payload (tombstones awaiting vacuum)
    tombstones: dict[str, dict] = field(default_factory=dict)
    # appId -> highest committed txn version (exactly-once watermarks;
    # checkpointed, like the spec's SetTransaction actions, so they
    # survive log truncation)
    txns: dict[str, int] = field(default_factory=dict)
    # appId -> lastUpdated millis of the winning txn action (the
    # spec's optional freshness stamp; setTransactionRetentionDuration
    # expires only stamped entries at checkpoint time)
    txn_updated: dict[str, int] = field(default_factory=dict)
    # domain name -> configuration JSON string (the spec's
    # domainMetadata actions: named metadata domains with
    # last-writer-wins replay and tombstoning via removed=true;
    # row tracking keeps its high-water mark here)
    domains: dict[str, str] = field(default_factory=dict)


def replay(table_path: str, until: int | None = None) -> Snapshot:
    """Reconstruct table state: resume from the newest usable parquet
    checkpoint (if any at or before ``until``), then replay only the
    later JSON commits — the production Delta read path.

    Truncated history (cleanup_metadata removed the early commits) is
    detected, never silently misread: time travel to a version whose
    JSON is gone and that no surviving checkpoint covers raises; a
    GAP in the replayed range (a missing middle commit) raises rather
    than replaying around it."""
    snap = Snapshot()
    start = 0
    cp = last_checkpoint_version(table_path)
    if cp is not None and (until is None or cp <= until):
        snap = read_checkpoint(table_path, cp)
        start = cp + 1
    versions = list_versions(table_path)
    replayed = [
        v for v in versions if v >= start and (until is None or v <= until)
    ]
    if replayed and (snap.version >= 0 or start > 0):
        expected = start
    elif replayed:
        expected = replayed[0]  # no checkpoint: any prefix is fine
    else:
        expected = None
    for v in replayed:
        if v != expected:
            raise ValueError(
                f"delta log is truncated: commit {expected} is missing "
                f"(found {v}); history below the last checkpoint may "
                "have been removed by cleanup_metadata"
            )
        expected = v + 1
    if (
        until is not None
        and versions
        and not replayed
        and snap.version < 0
    ):
        raise ValueError(
            f"cannot reconstruct version {until}: its commits were "
            "removed by metadata cleanup and no checkpoint at or "
            "before it survives"
        )
    if replayed and snap.version < 0 and replayed[0] > 0:
        raise ValueError(
            f"cannot reconstruct version {until if until is not None else replayed[-1]}: "
            f"commits 0..{replayed[0] - 1} were removed by metadata "
            "cleanup and no checkpoint at or before it survives"
        )
    for v in replayed:
        snap.version = v
        for action in read_commit(table_path, v):
            if "metaData" in action:
                snap.metadata = action["metaData"]
            elif "protocol" in action:
                snap.protocol = action["protocol"]
            elif "add" in action:
                add = action["add"]
                snap.files[add["path"]] = add
                snap.tombstones.pop(add["path"], None)
            elif "remove" in action:
                rm = action["remove"]
                snap.files.pop(rm["path"], None)
                snap.tombstones[rm["path"]] = rm
            elif "txn" in action:
                txn = action["txn"]
                app = txn.get("appId")
                if app is not None:
                    tv = int(txn.get("version", -1))
                    if tv >= snap.txns.get(app, -1):
                        snap.txns[app] = tv
                        # A winning txn that omits lastUpdated must also
                        # clear any stale stamp from an earlier action:
                        # otherwise setTransactionRetentionDuration expiry
                        # at checkpoint time would judge a freshly-advanced
                        # transaction by the old timestamp and drop it.
                        lu = txn.get("lastUpdated")
                        if lu is not None:
                            snap.txn_updated[app] = int(lu)
                        else:
                            snap.txn_updated.pop(app, None)
            elif "domainMetadata" in action:
                dm = action["domainMetadata"]
                if dm.get("removed"):
                    snap.domains.pop(dm["domain"], None)
                else:
                    snap.domains[dm["domain"]] = dm.get(
                        "configuration", ""
                    )
    return snap


def history(table_path: str) -> list[dict]:
    """Per-version operation summary (DESCRIBE HISTORY shape)."""
    out = []
    for v in list_versions(table_path):
        info = {}
        n_add = n_remove = 0
        n_records = 0
        for action in read_commit(table_path, v):
            if "commitInfo" in action:
                info = action["commitInfo"]
            elif "add" in action:
                n_add += 1
                stats = action["add"].get("stats")
                if stats:
                    n_records += json.loads(stats).get("numRecords", 0)
            elif "remove" in action:
                n_remove += 1
        out.append(
            {
                "version": v,
                "operation": info.get("operation", ""),
                "timestamp": info.get("timestamp", 0),
                "n_files_added": n_add,
                "n_files_removed": n_remove,
                "n_records_added": n_records,
                "operationMetrics": info.get("operationMetrics", {}),
            }
        )
    return out


def commit_stats_df(spark, table_path: str, time_col: str):
    """The reference's latency-observability surface (TimeDelay.ipynb
    cell 0): one row per commit with wall-clock and the min/max of
    ``time_col`` over the files added in that commit — read from the
    real ``_delta_log`` JSON, exactly as the notebook does."""
    rows = []
    for v in list_versions(table_path):
        ts = 0
        mins: list[str] = []
        maxs: list[str] = []
        n = 0
        for action in read_commit(table_path, v):
            if "commitInfo" in action:
                ts = action["commitInfo"].get("timestamp", 0)
            elif "add" in action and action["add"].get("stats"):
                s = json.loads(action["add"]["stats"])
                n += s.get("numRecords", 0)
                mv = s.get("minValues", {}).get(time_col)
                xv = s.get("maxValues", {}).get(time_col)
                if mv is not None:
                    mins.append(str(mv))
                if xv is not None:
                    maxs.append(str(xv))
        rows.append(
            {
                "version": v,
                "commit_time": ts / 1000.0,
                "numRecords": n,
                "min_event": min(mins) if mins else None,
                "max_event": max(maxs) if maxs else None,
            }
        )
    return spark.createDataFrame(
        rows,
        schema=(
            "version long, commit_time double, numRecords long, "
            "min_event string, max_event string"
        ),
    )


# ---------------------------------------------------------------- checkpoints
#
# Spec-shaped checkpointing: a parquet file `<version 020d>.checkpoint
# .parquet` holding the full replayed state as one action per row
# (columns protocol/metaData/add/remove/txn, exactly one non-null per
# row), plus the `_last_checkpoint` JSON pointer. Readers resume from
# the newest checkpoint and replay only later commits — at 1e5 commits
# this is the difference between opening 14 files and 1e5.

LAST_CHECKPOINT = "_last_checkpoint"


# ------------------------------------------------------------ version checksums
# Delta's VERSION_CHECKSUM file: next to every commit JSON the writer
# may put ``<version 020d>.crc`` summarizing the post-commit table
# state (live-file count and byte size, one metadata, one protocol).
# Readers use it two ways: cheap state verification after replay (a
# mismatch means a lost/duplicated action — corruption that silent
# replay would propagate), and O(1) answers to "how big is this
# table" without scanning the log.


def checksum_file(table_path: str, version: int) -> str:
    return os.path.join(log_path(table_path), f"{version:020d}.crc")


def _checksum_payload(files: dict[str, dict]) -> dict:
    return {
        "tableSizeBytes": sum(
            int(a.get("size", 0) or 0) for a in files.values()
        ),
        "numFiles": len(files),
        "numMetadata": 1,
        "numProtocol": 1,
    }


def write_version_checksum(
    table_path: str, version: int, files: dict[str, dict] | None = None
) -> dict:
    """Write ``<version>.crc``. ``files`` is the post-commit live add
    map when the caller already has it (the incremental path a writer
    uses — O(actions), not O(log)); recomputed by full replay when
    absent."""
    if files is None:
        files = replay(table_path, until=version).files
    crc = _checksum_payload(files)
    with open(checksum_file(table_path, version), "w") as f:
        json.dump(crc, f, separators=(",", ":"))
    return crc


def validate_version_checksum(
    table_path: str, version: int | None = None
) -> bool | None:
    """Recompute the state summary at ``version`` (default latest) by
    replay and compare against the stored ``.crc``. Returns True on
    match, None when no checksum was written for that version, and
    RAISES on mismatch — a wrong checksum means the log and the state
    disagree, which must never be papered over."""
    if version is None:
        vs = list_versions(table_path)
        if not vs:
            return None
        version = vs[-1]
    p = checksum_file(table_path, version)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        stored = json.load(f)
    actual = _checksum_payload(replay(table_path, until=version).files)
    # A .crc written by another engine with different key names — or an
    # empty/corrupted-to-{} file — would otherwise compare zero fields
    # and "pass" the very corruption check this exists for. The two
    # protocol-core keys must be present and comparable; anything less
    # is "no recognizable checksum", reported as None, not True.
    required = ("numFiles", "tableSizeBytes")
    if not all(k in stored for k in required):
        return None
    diffs = {
        k: (stored.get(k), v)
        for k, v in actual.items()
        if k in stored and stored.get(k) != v
    }
    if diffs:
        raise ValueError(
            f"version checksum mismatch at {version}: "
            + ", ".join(
                f"{k} stored={s} actual={a}" for k, (s, a) in diffs.items()
            )
            + " — the commit log and the checksummed state disagree"
        )
    return True


def checkpoint_file(table_path: str, version: int) -> str:
    return os.path.join(
        log_path(table_path), f"{version:020d}.checkpoint.parquet"
    )


def multipart_checkpoint_file(
    table_path: str, version: int, part: int, parts: int
) -> str:
    """Spec naming for classic multi-part checkpoints:
    ``<v 020d>.checkpoint.<part 010d>.<parts 010d>.parquet``
    (part is 1-based)."""
    return os.path.join(
        log_path(table_path),
        f"{version:020d}.checkpoint.{part:010d}.{parts:010d}.parquet",
    )


def checkpoint_part_paths(table_path: str, version: int) -> list[str]:
    """Resolve the parquet file(s) of the checkpoint at ``version``:
    the single-file form if present, else the complete multi-part
    set. An INCOMPLETE multi-part set (a part missing — e.g. a torn
    upload) raises rather than reconstructing partial state."""
    single = checkpoint_file(table_path, version)
    if os.path.exists(single):
        return [single]
    prefix = f"{version:020d}.checkpoint."
    lp = log_path(table_path)
    found: dict[int, tuple[int, str]] = {}
    declared: set[int] = set()
    if os.path.isdir(lp):
        for name in os.listdir(lp):
            if not (name.startswith(prefix) and name.endswith(".parquet")):
                continue
            bits = name[len(prefix): -len(".parquet")].split(".")
            if len(bits) != 2 or not all(b.isdigit() for b in bits):
                continue
            found[int(bits[0])] = (int(bits[1]), os.path.join(lp, name))
            declared.add(int(bits[1]))
    if not found:
        return []
    n = max(declared)
    if len(declared) != 1 or sorted(found) != list(range(1, n + 1)):
        raise ValueError(
            f"incomplete multi-part checkpoint at version {version}: "
            f"have parts {sorted(found)} of {sorted(declared)} — "
            "refusing to reconstruct partial state"
        )
    return [found[p][1] for p in sorted(found)]


def _txn_retention_cutoff(snap: Snapshot) -> float | None:
    """Expiry cutoff (epoch ms) for SetTransaction entries, from the
    ``delta.setTransactionRetentionDuration`` table property — None
    when unset (keep everything, Delta's default)."""
    conf = (snap.metadata or {}).get("configuration", {}) or {}
    raw = conf.get("delta.setTransactionRetentionDuration")
    if not raw:
        return None
    m = re.fullmatch(
        r"\s*interval\s+(\d+)\s+(day|days|hour|hours)\s*",
        str(raw).lower(),
    )
    if not m:
        raise ValueError(
            f"unparseable delta.setTransactionRetentionDuration {raw!r};"
            " expected 'interval N days' or 'interval N hours'"
        )
    n = int(m.group(1))
    hours = n * 24 if m.group(2).startswith("day") else n
    return time.time() * 1000.0 - hours * 3600.0 * 1000.0


def _txn_expired(snap: Snapshot, app: str, cutoff: float | None) -> bool:
    """Only entries carrying the optional lastUpdated stamp can age
    out — an unstamped SetTransaction is retained forever (the spec's
    rule: without a timestamp there is nothing sound to expire)."""
    if cutoff is None:
        return False
    lu = snap.txn_updated.get(app)
    return lu is not None and lu < cutoff


def write_checkpoint(
    table_path: str, version: int | None = None, parts: int = 1
) -> int:
    """Materialize the snapshot at ``version`` (default: latest) as a
    parquet checkpoint and advance ``_last_checkpoint``. With
    ``parts > 1`` the actions split round-robin across the spec's
    multi-part file set (`.checkpoint.<k>.<n>.parquet`) — the classic
    form for tables whose live-file set outgrows one parquet object;
    readers must consume every part (the spec allows any distribution
    of actions across them, which round-robin exercises maximally)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    versions = list_versions(table_path)
    if version is None:
        version = versions[-1]
    if parts < 1:
        raise ValueError(f"parts must be >= 1, got {parts}")
    snap = replay(table_path, until=version)
    # checkpoint time is when SetTransaction retention is applied —
    # the checkpoint is the only artifact that carries txns forward
    # past log cleanup, so dropping expired entries here bounds the
    # watermark table of a long-lived many-writer stream
    txn_cutoff = _txn_retention_cutoff(snap)
    rows: list[dict] = [
        {"protocol": snap.protocol or None},
        {"metaData": snap.metadata or None},
        *({"add": a} for a in snap.files.values()),
        *({"remove": r} for r in snap.tombstones.values()),
        *(
            {
                "txn": {
                    "appId": app,
                    "version": v,
                    **(
                        {"lastUpdated": snap.txn_updated[app]}
                        if app in snap.txn_updated
                        else {}
                    ),
                }
            }
            for app, v in snap.txns.items()
            if not _txn_expired(snap, app, txn_cutoff)
        ),
        *(
            {
                "domainMetadata": {
                    "domain": d,
                    "configuration": c,
                    "removed": False,
                }
            }
            for d, c in snap.domains.items()
        ),
    ]
    if parts == 1:
        _write_cp_table(rows, checkpoint_file(table_path, version))
    else:
        for k in range(parts):
            _write_cp_table(
                rows[k::parts],
                multipart_checkpoint_file(
                    table_path, version, k + 1, parts
                ),
            )
    with open(os.path.join(log_path(table_path), LAST_CHECKPOINT), "w") as f:
        json.dump({"version": version, "parts": parts}, f)
    return version


# One JSON-encoded action column per action type; parquet-friendly
# without hand-maintaining the full nested spec schema (documented
# divergence: the spec stores typed nested structs — the read path
# accepts both encodings via _cp_cell).
_CP_COLUMNS = (
    "protocol", "metaData", "add", "remove", "txn", "domainMetadata",
    "checkpointMetadata", "sidecar",
)


def _write_cp_table(chunk: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols: dict[str, list] = {k: [] for k in _CP_COLUMNS}
    for r in chunk:
        for k in cols:
            v = r.get(k)
            cols[k].append(
                json.dumps(v, separators=(",", ":")) if v else None
            )
    pq.write_table(
        pa.table({k: pa.array(v, pa.string()) for k, v in cols.items()}),
        path,
    )


# ------------------------------------------------------------- v2 checkpoints
# The v2Checkpoint table feature (Delta PROTOCOL.md "V2 Spec"): the
# checkpoint for version V is a UUID-named MANIFEST
# ``<V 020d>.checkpoint.<uuid>.parquet`` holding every non-file action
# (protocol, metaData, txn, domainMetadata) plus a checkpointMetadata
# action stamping the version, while the file actions (add/remove)
# live in SIDECAR parquet files under ``_delta_log/_sidecars/``, each
# referenced by a ``sidecar`` action in the manifest. The indirection
# is the scale feature: a 1000-executor job can plan sidecar reads in
# parallel and an incremental writer can reuse unchanged sidecars
# across checkpoints instead of rewriting the full live-file set.

SIDECAR_SUBDIR = "_sidecars"


def sidecar_dir(table_path: str) -> str:
    return os.path.join(log_path(table_path), SIDECAR_SUBDIR)


def v2_checkpoint_manifest(table_path: str, version: int) -> str | None:
    """The v2 manifest path for ``version`` — UUID-named, so distinct
    from both classic forms (no middle token / ``part.parts`` digits).
    The spec allows PARQUET or JSON manifests (``.checkpoint.<uuid>.
    {parquet|json}``); we write parquet and read both. Multiple
    manifests for one version are legal (two writers racing the same
    checkpoint); any is complete, pick the lexicographically last for
    determinism (parquet preferred on a tie of stems)."""
    prefix = f"{version:020d}.checkpoint."
    lp = log_path(table_path)
    if not os.path.isdir(lp):
        return None
    cands = []
    for name in os.listdir(lp):
        if not name.startswith(prefix):
            continue
        for ext in (".parquet", ".json"):
            if name.endswith(ext):
                mid = name[len(prefix): -len(ext)]
                if mid and "." not in mid and not mid.isdigit():
                    cands.append(name)
    return os.path.join(lp, sorted(cands)[-1]) if cands else None


def _manifest_actions(manifest_path: str) -> list[dict]:
    """Actions of a v2 manifest in row form, both encodings: a JSON
    manifest is the commit format (one action object per line); a
    parquet manifest is columnar with one column per action type."""
    if manifest_path.endswith(".json"):
        with open(manifest_path) as f:
            return [json.loads(line) for line in f if line.strip()]
    import pyarrow.parquet as pq

    tbl = pq.read_table(manifest_path).to_pydict()
    rows: list[dict] = []
    for col, cells in tbl.items():
        for j in cells:
            v = _cp_cell(j)
            if v:
                rows.append({col: v})
    return rows


def _manifest_sidecars(manifest_path: str) -> list[dict]:
    """The sidecar actions declared by a v2 manifest (empty for a
    manifest that inlines its file actions, which the spec allows)."""
    return [
        a["sidecar"] for a in _manifest_actions(manifest_path)
        if a.get("sidecar")
    ]


def write_checkpoint_v2(
    table_path: str, version: int | None = None, sidecars: int = 2
) -> int:
    """Materialize the snapshot at ``version`` as a v2 checkpoint:
    manifest + ``sidecars`` sidecar files (file actions split
    round-robin — like the multi-part writer, the most adversarial
    distribution the spec permits). Advances ``_last_checkpoint``
    with the spec's v2 discovery hints (checkpoint kind + manifest
    file name) so readers resolve the manifest without listing."""
    import uuid as _uuid

    versions = list_versions(table_path)
    if version is None:
        version = versions[-1]
    if sidecars < 1:
        raise ValueError(f"sidecars must be >= 1, got {sidecars}")
    snap = replay(table_path, until=version)
    txn_cutoff = _txn_retention_cutoff(snap)
    file_rows: list[dict] = [
        *({"add": a} for a in snap.files.values()),
        *({"remove": r} for r in snap.tombstones.values()),
    ]
    os.makedirs(sidecar_dir(table_path), exist_ok=True)
    sidecar_actions: list[dict] = []
    for k in range(sidecars):
        name = f"{_uuid.uuid4()}.parquet"
        path = os.path.join(sidecar_dir(table_path), name)
        _write_cp_table(file_rows[k::sidecars], path)
        st = os.stat(path)
        sidecar_actions.append(
            {
                "path": name,
                "sizeInBytes": st.st_size,
                "modificationTime": int(st.st_mtime * 1000),
            }
        )
    manifest_rows: list[dict] = [
        {"checkpointMetadata": {"version": version, "tags": {}}},
        {"protocol": snap.protocol or None},
        {"metaData": snap.metadata or None},
        *(
            {
                "txn": {
                    "appId": app,
                    "version": v,
                    **(
                        {"lastUpdated": snap.txn_updated[app]}
                        if app in snap.txn_updated
                        else {}
                    ),
                }
            }
            for app, v in snap.txns.items()
            if not _txn_expired(snap, app, txn_cutoff)
        ),
        *(
            {
                "domainMetadata": {
                    "domain": d,
                    "configuration": c,
                    "removed": False,
                }
            }
            for d, c in snap.domains.items()
        ),
        *({"sidecar": sc} for sc in sidecar_actions),
    ]
    manifest_name = f"{version:020d}.checkpoint.{_uuid.uuid4()}.parquet"
    _write_cp_table(
        manifest_rows, os.path.join(log_path(table_path), manifest_name)
    )
    with open(os.path.join(log_path(table_path), LAST_CHECKPOINT), "w") as f:
        json.dump(
            {
                "version": version,
                "sizeInBytes": os.path.getsize(
                    os.path.join(log_path(table_path), manifest_name)
                ),
                "checkpointKind": "v2",
                "v2Checkpoint": manifest_name,
            },
            f,
        )
    return version


def last_checkpoint_version(table_path: str) -> int | None:
    p = os.path.join(log_path(table_path), LAST_CHECKPOINT)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        v = int(json.load(f)["version"])
    try:
        if checkpoint_part_paths(table_path, v):
            return v
    except ValueError:
        return None  # incomplete part set: fall back to full replay
    manifest = v2_checkpoint_manifest(table_path, v)
    if manifest is None:
        return None
    # a v2 checkpoint is usable only if EVERY declared sidecar is
    # present — a torn sidecar upload degrades to full JSON replay
    # rather than serving partial state (mirrors the multi-part rule)
    for sc in _manifest_sidecars(manifest):
        if not os.path.exists(
            os.path.join(sidecar_dir(table_path), sc["path"])
        ):
            return None
    return v


def _cp_cell(v):
    """Checkpoint cell → action payload. Our writer stores each action
    column as a JSON string; delta-spark checkpoints store typed STRUCT
    columns (absent optional fields read back as None, maps read back
    as key/value tuple lists through pyarrow) — accept both encodings
    so a checkpoint written by a real Delta writer replays."""
    if v is None or v == "":
        return None
    if isinstance(v, str):
        return json.loads(v)
    if isinstance(v, dict):
        out = {}
        for k, x in v.items():
            if x is None:
                continue
            out[k] = _cp_cell(x) if isinstance(x, (dict, list)) else x
        return out
    if isinstance(v, list):
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return {
                k: (_cp_cell(x) if isinstance(x, (dict, list)) else x)
                for k, x in v
            }
        return [
            _cp_cell(x) if isinstance(x, (dict, list)) else x for x in v
        ]
    return v


def _ingest_cp_table(snap: Snapshot, tbl: dict) -> None:
    """Fold one checkpoint parquet (classic part, v2 manifest, or v2
    sidecar) into ``snap``. Columns are optional — pre-txn classic
    checkpoints lack ``txn``, sidecars carry only file actions."""
    for j in tbl.get("protocol") or []:
        p = _cp_cell(j)
        if p:
            snap.protocol = p
    for j in tbl.get("metaData") or []:
        m = _cp_cell(j)
        if m:
            snap.metadata = m
    for j in tbl.get("add") or []:
        add = _cp_cell(j)
        if add:
            snap.files[add["path"]] = add
    for j in tbl.get("remove") or []:
        rm = _cp_cell(j)
        if rm:
            snap.tombstones[rm["path"]] = rm
    for j in tbl.get("txn") or []:
        txn = _cp_cell(j)
        if txn:
            snap.txns[txn["appId"]] = int(txn.get("version", -1))
            if txn.get("lastUpdated") is not None:
                snap.txn_updated[txn["appId"]] = int(txn["lastUpdated"])
    for j in tbl.get("domainMetadata") or []:
        dm = _cp_cell(j)
        if dm:
            if not dm.get("removed"):
                snap.domains[dm["domain"]] = dm.get("configuration", "")


def read_checkpoint(table_path: str, version: int) -> Snapshot:
    import pyarrow.parquet as pq

    paths = checkpoint_part_paths(table_path, version)
    if paths:
        snap = Snapshot(version=version)
        for path in paths:
            _ingest_cp_table(snap, pq.read_table(path).to_pydict())
        return snap
    manifest = v2_checkpoint_manifest(table_path, version)
    if manifest is None:
        raise FileNotFoundError(
            f"no checkpoint at version {version} under "
            f"{log_path(table_path)}"
        )
    snap = Snapshot(version=version)
    rows = _manifest_actions(manifest)
    for a in rows:
        cm = a.get("checkpointMetadata")
        if cm and int(cm.get("version", version)) != version:
            raise ValueError(
                f"v2 checkpoint manifest {os.path.basename(manifest)} "
                f"stamps version {cm['version']}, expected {version}"
            )
    # row form → one-column table form the shared ingester understands
    _ingest_cp_table(
        snap,
        {
            k: [a[k] for a in rows if a.get(k)]
            for k in ("protocol", "metaData", "add", "remove",
                      "txn", "domainMetadata")
        },
    )
    for a in rows:
        side = a.get("sidecar")
        if not side:
            continue
        sp = os.path.join(sidecar_dir(table_path), side["path"])
        if not os.path.exists(sp):
            raise FileNotFoundError(
                f"v2 checkpoint at version {version} references missing "
                f"sidecar {side['path']} — refusing to reconstruct "
                "partial state"
            )
        _ingest_cp_table(snap, pq.read_table(sp).to_pydict())
    return snap


def cleanup_metadata(
    table_path: str,
    retention_hours: float = 720.0,
    now_ms: int | None = None,
) -> list[str]:
    """Delta's log metadata cleanup (``delta.logRetentionDuration``,
    default 30 days): delete commit JSONs — and superseded checkpoint
    files — STRICTLY BELOW the newest checkpoint, oldest-first and
    only while each file's age exceeds the retention window. Stopping
    at the first too-young file keeps the surviving log contiguous
    (mtimes are monotone with version), the invariant replay()'s
    truncation guard relies on. Nothing at or above the newest
    checkpoint is ever touched, so the current state and every
    version >= the checkpoint stay reconstructible; history below it
    becomes time-travel-unreachable — exactly Delta's trade-off, and
    the reason a 1e5-commit streaming table's _delta_log stays
    bounded. Returns the deleted file names."""
    cp = last_checkpoint_version(table_path)
    if cp is None:
        return []  # nothing may be deleted without a covering checkpoint
    now = time.time() * 1000.0 if now_ms is None else float(now_ms)
    cutoff = now - retention_hours * 3600.0 * 1000.0
    lp = log_path(table_path)
    deleted: list[str] = []
    for v in list_versions(table_path):
        if v >= cp:
            break
        p = version_file(table_path, v)
        if os.path.getmtime(p) * 1000.0 >= cutoff:
            break  # contiguous prefix only
        os.remove(p)
        deleted.append(os.path.basename(p))
        crc = checksum_file(table_path, v)
        if os.path.exists(crc):  # the .crc shadows its commit JSON
            os.remove(crc)
            deleted.append(os.path.basename(crc))
    for name in sorted(os.listdir(lp)):
        # every checkpoint form: <v>.checkpoint.parquet, the
        # multi-part <v>.checkpoint.<k>.<n>.parquet, and v2
        # manifests <v>.checkpoint.<uuid>.{parquet|json} (plain
        # commit JSONs never contain ".checkpoint.")
        if ".checkpoint." not in name or not name.endswith(
            (".parquet", ".json")
        ):
            continue
        stem = name.split(".checkpoint.", 1)[0]
        if not stem.isdigit() or int(stem) >= cp:
            continue
        p = os.path.join(lp, name)
        if os.path.getmtime(p) * 1000.0 < cutoff:
            os.remove(p)
            deleted.append(name)
    # v2 sidecars: deletable only once NO surviving manifest references
    # them (manifests may share sidecars across checkpoint generations)
    # and they are past retention themselves
    sd = sidecar_dir(table_path)
    if os.path.isdir(sd):
        live: set[str] = set()
        for name in os.listdir(lp):
            if ".checkpoint." not in name:
                continue
            for ext in (".parquet", ".json"):
                if not name.endswith(ext):
                    continue
                mid = name.split(".checkpoint.", 1)[1][: -len(ext)]
                if mid and "." not in mid and not mid.isdigit():
                    live.update(
                        sc["path"]
                        for sc in _manifest_sidecars(
                            os.path.join(lp, name)
                        )
                    )
        for name in sorted(os.listdir(sd)):
            p = os.path.join(sd, name)
            if name not in live and os.path.getmtime(p) * 1000.0 < cutoff:
                os.remove(p)
                deleted.append(f"{SIDECAR_SUBDIR}/{name}")
    return deleted
