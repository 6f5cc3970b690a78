"""Deltaish table: Spark parquet data files + the Delta-shaped commit
log of ``delta/log.py`` (see package docstring for protocol scope).

Reference parity anchors:
  create/append/overwrite  — Sourcecode/spark/etl.py:34-46 writes
  merge (upsert)           — populate_dim.py:153-163 (whenMatchedUpdateAll
                             + whenNotMatchedInsertAll)
  optimize/vacuum/zorder   — delta_manager.py:4-24
  streaming sink           — streaming_pipeline.py sink + udf.py:74-83
  per-commit stats         — TimeDelay.ipynb cell 0 (minValues parse)
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from datetime import date, datetime, timedelta
from decimal import Decimal
from urllib.parse import quote, unquote

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import log as dlog
from . import roaring
from .log import ConcurrentCommitError


def _json_safe(v):
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    return v


def file_footer_stats(path: str, indexed: set[str] | None = None) -> dict:
    """numRecords + per-column min/max/nullCount straight from the
    parquet footer — the same statistics Delta writers persist into
    ``add`` actions (and that the reference's latency notebook
    consumes). ``indexed`` restricts the per-column stats to the named
    (physical) columns — the ``delta.dataSkippingNumIndexedCols``
    contract that bounds stats width on wide tables; numRecords is
    always recorded. nullCount for a column is emitted only when EVERY
    row group reports it (a partial sum would under-count and make
    null-aware skipping unsound)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    ncs: dict = {}
    nc_bad: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            name = col.path_in_schema
            if "." in name:  # nested columns: top-level stats only
                continue
            if indexed is not None and name not in indexed:
                continue
            nc = st.null_count if st is not None else None
            if nc is None:
                nc_bad.add(name)
                ncs.pop(name, None)
            elif name not in nc_bad:
                ncs[name] = ncs.get(name, 0) + int(nc)
            if st is None or not st.has_min_max:
                continue
            if col.physical_type in ("INT32", "INT64") and (
                st.logical_type.type == "DECIMAL"
            ):
                # pyarrow decodes no min/max for INT32/INT64-backed
                # decimals (Spark's layout up to precision 18); their
                # raw integers are the unscaled values
                scale = md.schema.column(ci).scale
                mn, mx = (
                    Decimal(v).scaleb(-scale) for v in (st.min_raw, st.max_raw)
                )
            else:
                try:
                    mn, mx = st.min, st.max
                except Exception:
                    # any other undecodable type keeps no min/max:
                    # per-column stats are OPTIONAL in the protocol — a
                    # file without them simply never skips, it never
                    # corrupts
                    continue
            if name not in mins or mn < mins[name]:
                mins[name] = mn
            if name not in maxs or mx > maxs[name]:
                maxs[name] = mx
    return {
        "numRecords": md.num_rows,
        "minValues": {k: _json_safe(v) for k, v in mins.items()},
        "maxValues": {k: _json_safe(v) for k, v in maxs.items()},
        "nullCount": dict(ncs),
    }


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _unescape_path_name(s: str) -> str:
    """Spark's ``unescapePathName``: a ``%XX`` hex escape is one char."""
    return re.sub(
        r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), s
    )


def _parse_partition_dirs(rel_dir: str) -> dict[str, str | None]:
    """Partition values of a Hive-layout directory as the log stores
    them: unescaped strings, and JSON null for Spark's default-partition
    marker (the Delta spec's serialization, not the directory's)."""
    pv: dict[str, str | None] = {}
    if rel_dir in (".", ""):
        return pv
    for part in rel_dir.replace(os.sep, "/").split("/"):
        if "=" in part:
            k, _, v = part.partition("=")
            pv[_unescape_path_name(k)] = (
                None if v == _HIVE_NULL else _unescape_path_name(v)
            )
    return pv


class DeltaishTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        # (descriptor key, frame) of the last _dv_pos_df call
        self._dv_frame: tuple[tuple, DataFrame] | None = None

    # ------------------------------------------------------------ lifecycle

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        generated_columns: dict[str, str] | None = None,
        identity_columns: dict[str, tuple[int, int]] | None = None,
    ) -> "DeltaishTable":
        """``generated_columns`` declares GENERATED ALWAYS AS columns:
        name -> SQL expression over the other columns, stored as the
        protocol's ``delta.generationExpression`` field-metadata
        annotation. Omitted on write -> computed; supplied -> validated
        (Delta enforces the same equality). The canonical use is a
        derived partitioning column (e.g. ``year(o_orderdate)``) that
        writers can never get wrong.

        ``identity_columns`` declares GENERATED ALWAYS AS IDENTITY
        columns: name -> (start, step). The engine assigns values and
        tracks the protocol's delta.identity.highWaterMark in the
        field metadata; explicit writer-supplied values are rejected,
        and concurrent appends conflict on the HWM bump instead of
        double-assigning a block."""
        if generated_columns:
            for c, expr in generated_columns.items():
                if c not in df.columns:
                    df = df.withColumn(c, F.expr(expr))
        id_hwms: dict[str, int] = {}
        if identity_columns:
            for c, (start, step) in identity_columns.items():
                if c in df.columns:
                    raise ValueError(
                        f"column {c!r} is GENERATED ALWAYS AS "
                        "IDENTITY; explicit values are not accepted"
                    )
                df, hwm = cls._assign_identity(df, c, start, step)
                if hwm is not None:
                    id_hwms[c] = hwm
        t = cls(spark, path)
        if dlog.list_versions(t.path):
            raise ValueError(f"table already exists at {t.path}")
        os.makedirs(t.path, exist_ok=True)
        adds = t._write_files(df, partition_by)
        schema_json = json.loads(df.schema.json())
        for f in schema_json["fields"]:
            expr = (generated_columns or {}).get(f["name"])
            if expr:
                f["metadata"] = dict(f.get("metadata", {}) or {})
                f["metadata"]["delta.generationExpression"] = expr
            ident = (identity_columns or {}).get(f["name"])
            if ident:
                md = dict(f.get("metadata", {}) or {})
                md[cls.IDENTITY_START] = int(ident[0])
                md[cls.IDENTITY_STEP] = int(ident[1])
                md[cls.IDENTITY_ALLOW] = False
                if f["name"] in id_hwms:
                    md[cls.IDENTITY_HWM] = id_hwms[f["name"]]
                f["metadata"] = md
        feats = {"generatedColumns"} if generated_columns else set()
        if identity_columns:
            feats.add("identityColumns")
        proto = cls._protocol_for(cls._BASE_PROTOCOL, feats)
        actions = [
            {"protocol": proto or dict(cls._BASE_PROTOCOL)},
            {
                "metaData": {
                    "id": uuid.uuid4().hex,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema_json),
                    "partitionColumns": list(partition_by),
                    "configuration": {},
                }
            },
            *[{"add": a} for a in adds],
            dlog.commit_info("CREATE TABLE AS SELECT"),
        ]
        dlog.write_commit(t.path, 0, actions)
        dlog.write_version_checksum(
            t.path, 0, {a["path"]: a for a in adds}
        )
        return t

    # Table-feature compliance is ALLOWLIST-based, the protocol's own
    # rule: a reader MUST refuse any reader feature it does not
    # recognize (an unknown feature means unknown read semantics —
    # reading under a guess would corrupt results), and a writer MUST
    # refuse to commit to a table whose writerFeatures it does not
    # implement (an unknown feature means an invariant this writer
    # would silently break). Readers IGNORE unknown writer features —
    # that asymmetry is the spec's.
    #
    # The one feature table: every feature this engine implements ->
    # (legacy writer floor, legacy reader floor, reader-writer). A
    # floor is the protocol version that implied the feature before
    # table features existed (writer v7 / reader v3, where only
    # LISTED features are active); a reader-writer feature also lands
    # in readerFeatures. ``_protocol_for`` is the only reader of the
    # floors.
    _FEATURES = {
        "appendOnly": (2, None, False),
        "invariants": (2, None, False),
        "checkConstraints": (3, None, False),
        "changeDataFeed": (4, None, False),
        "generatedColumns": (4, None, False),
        "columnMapping": (5, 2, True),
        "identityColumns": (6, None, False),
        "deletionVectors": (None, None, True),
        "timestampNtz": (None, None, True),
        "v2Checkpoint": (None, None, True),
        "vacuumProtocolCheck": (None, None, True),
        "typeWidening": (None, None, True),
        "inCommitTimestamp": (None, None, False),
        "domainMetadata": (None, None, False),
        "rowTracking": (None, None, False),
        "clustering": (None, None, False),
        "allowColumnDefaults": (None, None, False),
    }
    _SUPPORTED_WRITER_FEATURES = frozenset(_FEATURES)
    _SUPPORTED_READER_FEATURES = frozenset(
        f for f, (_, _, rw) in _FEATURES.items() if rw
    )
    # the protocol of a table no feature has upgraded
    _BASE_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}

    @classmethod
    def _protocol_for(cls, protocol: dict, features) -> dict | None:
        """The protocol that makes every one of ``features`` active on
        top of ``protocol``, or None when they all already are.

        On a LEGACY protocol (writer < 7) where every missing feature
        has a writer floor, the version floors rise. Otherwise the
        writer moves to v7 and lists the features its legacy version
        implied first — at v7 only listed features are active, so an
        unlisted one would let a compliant external writer stop
        honoring it. A missing reader-writer feature is added to
        readerFeatures at reader v3; below v3 the reader rises to the
        feature's legacy floor when it has one, else to v3 with the
        features its legacy version implied listed (v2 implied column
        mapping)."""
        proto = dict(protocol or cls._BASE_PROTOCOL)
        rv = int(proto.get("minReaderVersion", 1))
        wv = int(proto.get("minWriterVersion", 2))
        wf = set(proto.get("writerFeatures") or [])
        rf = set(proto.get("readerFeatures") or [])

        def implied(floor, version):  # by a legacy protocol version
            return floor is not None and floor <= version

        def active(f):
            w_floor, r_floor, rw = cls._FEATURES[f]
            w_on = f in wf if wv >= 7 else implied(w_floor, wv)
            r_on = f in rf if rv >= 3 else implied(r_floor, rv)
            return w_on and (r_on or not rw)

        missing = [f for f in sorted(features) if not active(f)]
        if not missing:
            return None
        floors = [cls._FEATURES[f][0] for f in missing]
        if wv < 7 and None not in floors:
            proto["minWriterVersion"] = max(wv, *floors)
        else:
            if wv < 7:
                wf |= {
                    f
                    for f, (floor, _, _) in cls._FEATURES.items()
                    if implied(floor, wv)
                }
            proto["minWriterVersion"] = 7
            proto["writerFeatures"] = sorted(wf | set(missing))
        rw = [f for f in missing if cls._FEATURES[f][2]]
        r_floors = [cls._FEATURES[f][1] for f in rw]
        if rw and rv < 3 and None not in r_floors:
            proto["minReaderVersion"] = max(rv, *r_floors)
        elif rw:
            if rv < 3:
                rf |= {
                    f
                    for f, (_, floor, _) in cls._FEATURES.items()
                    if implied(floor, rv)
                }
            proto["minReaderVersion"] = 3
            proto["readerFeatures"] = sorted(rf | set(rw))
        return proto

    def _alter(
        self,
        snap: dlog.Snapshot,
        op: str,
        params: dict,
        *,
        meta: dict | None = None,
        features=(),
        actions=(),
        version_stamp=None,
    ) -> int:
        """The one metadata-only commit (ALTER TABLE and its kin),
        checked against ``snap``: the protocol upgrade that makes
        ``features`` active (none when they already are), a metaData
        action carrying the ``meta`` fields (configuration,
        schemaString, partitionColumns) over ``snap``'s, the extra
        ``actions`` (domainMetadata, backfilled adds), then
        commitInfo(op, **params). The commit that turns in-commit
        timestamps on leads with its commitInfo stamped with the
        enablement timestamp (the ICT rule: readers find the timestamp
        without scanning the file)."""
        out: list[dict] = []
        proto = self._protocol_for(snap.protocol, features)
        if proto:
            out.append({"protocol": proto})
        if meta is not None:
            out.append({"metaData": {**snap.metadata, **meta}})
        out.extend(actions)
        ci = dlog.commit_info(op, **params)
        conf = (meta or {}).get("configuration")
        if self._ict_on(conf) and not self._ict_on(
            snap.metadata.get("configuration")
        ):
            ci["commitInfo"]["inCommitTimestamp"] = int(
                conf[self.ICT_TIMESTAMP]
            )
            out.insert(0, ci)
        else:
            out.append(ci)
        return self._commit_next(
            out, read_version=snap.version, version_stamp=version_stamp
        )

    @staticmethod
    def _v2_checkpoints_on(snap: dlog.Snapshot) -> bool:
        return "v2Checkpoint" in (
            (snap.protocol or {}).get("readerFeatures") or []
        )

    def enable_v2_checkpoints(self) -> int:
        """ALTER TABLE ... SET TBLPROPERTIES
        ('delta.checkpointPolicy' = 'v2'): upgrade to the v2Checkpoint
        table feature — from now on the periodic checkpoints are
        UUID-named manifests with sidecar files (delta/log.py
        write_checkpoint_v2) instead of classic single/multi-part
        parquet. Reader-writer feature: it lands in BOTH feature
        lists at protocol (3, 7), because a reader that does not
        understand the manifest/sidecar layout would miss the
        checkpointed state entirely."""
        snap = self._snapshot()
        if self._v2_checkpoints_on(snap):
            return snap.version
        conf = dict(snap.metadata.get("configuration", {}) or {})
        conf["delta.checkpointPolicy"] = "v2"
        return self._alter(
            snap,
            "SET TBLPROPERTIES",
            {"properties": {"delta.checkpointPolicy": "v2"}},
            meta={"configuration": conf},
            features={"v2Checkpoint"},
        )

    def enable_vacuum_protocol_check(self) -> int:
        """ALTER TABLE ... SET TBLPROPERTIES enabling the
        vacuumProtocolCheck reader-writer feature: VACUUM
        implementations must run the full protocol gate before
        deleting files, so an engine that ignores a feature (say,
        deletion vectors) can never vacuum away files that feature
        still references. Our vacuum() honors it; declaring it makes
        EXTERNAL engines honor it too."""
        snap = self._snapshot()
        if "vacuumProtocolCheck" in (
            snap.protocol.get("writerFeatures") or []
        ):
            return snap.version
        return self._alter(
            snap,
            "SET TBLPROPERTIES",
            {"properties": {"feature": "vacuumProtocolCheck"}},
            features={"vacuumProtocolCheck"},
        )

    def checkpoint_v2(self, sidecars: int = 2) -> int:
        """Write a v2 checkpoint at the latest version (feature must
        be active — an external reader without v2Checkpoint support
        must have refused the table BEFORE we hide state in a layout
        it cannot see)."""
        snap = self._snapshot()
        if not self._v2_checkpoints_on(snap):
            raise ValueError(
                "v2Checkpoint feature not enabled on this table; call "
                "enable_v2_checkpoints() first"
            )
        return dlog.write_checkpoint_v2(self.path, sidecars=sidecars)

    ICT_ENABLE = "delta.enableInCommitTimestamps"
    ICT_VERSION = "delta.inCommitTimestampEnablementVersion"
    ICT_TIMESTAMP = "delta.inCommitTimestampEnablementTimestamp"

    def enable_in_commit_timestamps(self) -> int:
        """ALTER TABLE ... SET TBLPROPERTIES
        ('delta.enableInCommitTimestamps' = 'true'): from the next
        commit on, the commit's authoritative timestamp is the
        ``inCommitTimestamp`` field WRITTEN INTO commitInfo —
        monotonically increasing by construction — instead of the
        log file's wall clock, making TIMESTAMP AS OF immune to
        clock skew between writers (the feature's purpose). The
        enablement version/timestamp land as table properties so
        readers know where the old resolution rule ends, and the
        protocol records the writer feature."""
        snap = self._snapshot()
        conf = dict(snap.metadata.get("configuration", {}) or {})
        if self._ict_on(conf):
            raise ValueError("in-commit timestamps already enabled")
        conf[self.ICT_ENABLE] = "true"
        conf[self.ICT_VERSION] = str(snap.version + 1)
        conf[self.ICT_TIMESTAMP] = str(int(time.time() * 1000))
        return self._alter(
            snap,
            "SET TBLPROPERTIES",
            {"properties": {self.ICT_ENABLE: "true"}},
            meta={"configuration": conf},
            features={"inCommitTimestamp"},
        )

    @classmethod
    def _ict_on(cls, conf: dict | None) -> bool:
        """Whether a table configuration has in-commit timestamps on."""
        on = (conf or {}).get(cls.ICT_ENABLE, "false")
        return str(on).lower() == "true"

    @staticmethod
    def _ci_ts(ci: dict) -> int:
        """A commit's authoritative timestamp: inCommitTimestamp when
        the commit carries one (ICT-enabled era), else the wall-clock
        commitInfo timestamp — the protocol's resolution rule for
        TIMESTAMP AS OF, CDF timestamp ranges, and retention math."""
        return int(ci.get("inCommitTimestamp", ci.get("timestamp", 0)))

    # ---------------------------------------------------- row tracking

    RT_ENABLE = "delta.enableRowTracking"
    RT_DOMAIN = "delta.rowTracking"
    RT_ID_COL = "delta.rowTracking.materializedRowIdColumnName"
    RT_VER_COL = "delta.rowTracking.materializedRowCommitVersionColumnName"

    def _rt_enabled(self, snap: dlog.Snapshot) -> bool:
        conf = snap.metadata.get("configuration", {}) or {}
        return str(conf.get(self.RT_ENABLE, "false")).lower() == "true"

    def _rt_materialized_cols(
        self, snap: dlog.Snapshot
    ) -> tuple[str, str] | None:
        """(row-id column, commit-version column) PHYSICAL names for
        materialized row tracking, or None when the table is not
        row-tracked. The names are minted at enablement and never
        collide with data columns (uuid suffix)."""
        if not self._rt_enabled(snap):
            return None
        conf = snap.metadata.get("configuration", {}) or {}
        return (conf[self.RT_ID_COL], conf[self.RT_VER_COL])

    def _rt_hwm(self, snap: dlog.Snapshot) -> int:
        """Row-id high-water mark from the delta.rowTracking metadata
        domain (-1 on a freshly enabled table)."""
        dm = snap.domains.get(self.RT_DOMAIN)
        if not dm:
            return -1
        return int(json.loads(dm).get("rowIdHighWaterMark", -1))

    @staticmethod
    def _add_num_records(add: dict) -> int:
        stats = add.get("stats")
        if not stats:
            raise ValueError(
                f"row tracking needs numRecords stats on every add; "
                f"file {add.get('path')} has none"
            )
        n = json.loads(stats).get("numRecords")
        if n is None:
            raise ValueError(
                f"row tracking: file {add.get('path')} stats carry no "
                "numRecords"
            )
        return int(n)

    def set_domain_metadata(self, domain: str, configuration: str) -> int:
        """Write (or overwrite — last-writer-wins on replay) a named
        metadata domain: the spec's extension point for engine- or
        user-scoped table state that must ride the log and survive
        checkpoints (row tracking and liquid clustering keep their
        state in exactly this mechanism). ``delta.``-prefixed domains
        are reserved for protocol features and refused here. First
        use upgrades the protocol with the domainMetadata writer
        feature."""
        if domain.startswith("delta."):
            raise ValueError(
                f"domain {domain!r} is reserved (delta.* domains belong "
                "to protocol features; use their dedicated APIs)"
            )
        return self._alter(
            self._snapshot(),
            "SET DOMAIN METADATA",
            {"domain": domain},
            features={"domainMetadata"},
            actions=[self._domain_action(domain, configuration)],
        )

    @staticmethod
    def _domain_action(domain: str, configuration: str | None) -> dict:
        """A domainMetadata action; ``configuration=None`` tombstones
        the domain."""
        return {
            "domainMetadata": {
                "domain": domain,
                "configuration": configuration or "",
                "removed": configuration is None,
            }
        }

    def remove_domain_metadata(self, domain: str) -> int:
        """Tombstone a metadata domain (the spec's removed=true form —
        replay drops it; a checkpoint then forgets it entirely)."""
        if domain.startswith("delta."):
            raise ValueError(f"domain {domain!r} is reserved")
        snap = self._snapshot()
        if domain not in snap.domains:
            raise ValueError(f"no such domain {domain!r}")
        return self._alter(
            snap,
            "REMOVE DOMAIN METADATA",
            {"domain": domain},
            actions=[self._domain_action(domain, None)],
        )

    def domain_metadata(self, domain: str) -> str | None:
        """The live configuration of a domain, or None."""
        return self._snapshot().domains.get(domain)

    def enable_row_tracking(self) -> int:
        """ALTER TABLE ... SET TBLPROPERTIES
        ('delta.enableRowTracking' = 'true'): every row gets a STABLE
        unique id and a row-commit version. Existing files are
        backfilled in the same commit — each live add is re-committed
        with a ``baseRowId`` (fresh id of row i = baseRowId + i) and
        ``defaultRowCommitVersion``, dataChange=false since no logical
        row changes — and the id high-water mark lands in the
        ``delta.rowTracking`` metadata domain (a domainMetadata
        action), which is also where concurrent writers conflict
        instead of double-allocating. Rewrites afterwards PRESERVE ids
        by materializing them into hidden physical columns whose names
        are minted here."""
        snap = self._snapshot()
        if self._rt_enabled(snap):
            raise ValueError("row tracking already enabled")
        conf = dict(snap.metadata.get("configuration", {}) or {})
        conf[self.RT_ENABLE] = "true"
        conf[self.RT_ID_COL] = f"_row-id-col-{uuid.uuid4().hex}"
        conf[self.RT_VER_COL] = f"_row-version-col-{uuid.uuid4().hex}"
        actions: list[dict] = []
        hwm = -1
        for p in sorted(snap.files):
            a = dict(snap.files[p])
            n = self._add_num_records(a)
            a["baseRowId"] = hwm + 1
            a["defaultRowCommitVersion"] = snap.version + 1
            a["dataChange"] = False
            hwm += n
            actions.append({"add": a})
        actions.append(
            self._domain_action(
                self.RT_DOMAIN, json.dumps({"rowIdHighWaterMark": hwm})
            )
        )
        return self._alter(
            snap,
            "SET TBLPROPERTIES",
            {"properties": {self.RT_ENABLE: "true"}},
            meta={"configuration": conf},
            features={"rowTracking", "domainMetadata"},
            actions=actions,
        )

    def read_with_row_ids(self, version: int | None = None) -> DataFrame:
        """The snapshot with ``_row_id`` / ``_row_commit_version``
        appended — materialized values where a rewrite stored them,
        fresh baseRowId + position otherwise."""
        snap = self._snapshot(version)
        if not self._rt_enabled(snap):
            raise ValueError(
                "row tracking is not enabled on this table; call "
                "enable_row_tracking() first"
            )
        return self._read_snapshot_files(
            snap, snap.files, with_row_ids=True
        )

    def _assign_row_ids(
        self, snap: dlog.Snapshot, actions: list[dict], version: int
    ) -> list[dict]:
        """Stamp every UNSTAMPED add with a fresh baseRowId block and
        defaultRowCommitVersion = this commit, and refresh the HWM
        domain action. Runs INSIDE the OCC loop with the attempt's
        snapshot, so a retried append re-stamps above the winner's
        HWM — ids stay unique without coordination. Adds that already
        carry a baseRowId (restore re-adds, backfill) keep it."""
        if not self._rt_enabled(snap):
            return actions
        hwm = self._rt_hwm(snap)
        out = []
        for a in actions:
            if "domainMetadata" in a and a["domainMetadata"].get(
                "domain"
            ) == self.RT_DOMAIN:
                continue  # refreshed below
            if "add" in a:
                add = a["add"]
                if "baseRowId" not in add or add.get(
                    "__rt_stamped"
                ):
                    add = dict(add)
                    n = self._add_num_records(add)
                    add["baseRowId"] = hwm + 1
                    add["defaultRowCommitVersion"] = version
                    add["__rt_stamped"] = True
                    hwm += n
                    a = {"add": add}
            out.append(a)
        out.append(
            self._domain_action(
                self.RT_DOMAIN, json.dumps({"rowIdHighWaterMark": hwm})
            )
        )
        return out

    @staticmethod
    def _strip_rt_marks(actions: list[dict]) -> list[dict]:
        """A serialization copy without the retry-bookkeeping marker
        (the WORKING list keeps it so a lost OCC race re-stamps)."""
        return [
            {
                "add": {
                    k: v
                    for k, v in a["add"].items()
                    if k != "__rt_stamped"
                }
            }
            if "add" in a
            else a
            for a in actions
        ]

    def _rt_to_physical(
        self, df: DataFrame, snap: dlog.Snapshot
    ) -> DataFrame:
        """Rename the logical ``_row_id`` / ``_row_commit_version``
        columns of a rewrite's result to the table's hidden
        MATERIALIZED column names so they persist into the new files
        (where the read path's coalesce picks them up). No-op when the
        frame carries no row ids."""
        cols = self._rt_materialized_cols(snap)
        if not cols or "_row_id" not in df.columns:
            return df
        return df.withColumnRenamed("_row_id", cols[0]).withColumnRenamed(
            "_row_commit_version", cols[1]
        )

    def _last_ict(self, version: int) -> int | None:
        """The inCommitTimestamp of ``version``, or None when the
        commit file is gone (checkpoint-truncated) or predates the
        feature — callers fall back to the wall clock then."""
        if version < 0:
            return None
        try:
            for a in dlog.read_commit(self.path, version):
                if "commitInfo" in a:
                    ict = a["commitInfo"].get("inCommitTimestamp")
                    return int(ict) if ict is not None else None
        except FileNotFoundError:
            return None
        return None

    def _apply_ict(
        self, snap: dlog.Snapshot, actions: list[dict]
    ) -> list[dict]:
        """When ICT is enabled, stamp the commit's commitInfo with
        max(wall clock, previous ICT + 1) — strictly increasing even
        under clock regression — and move commitInfo to the front."""
        if not self._ict_on(snap.metadata.get("configuration")):
            return actions
        prev = self._last_ict(snap.version)
        ict = int(time.time() * 1000)
        if prev is not None and ict <= prev:
            ict = prev + 1
        cis = [a for a in actions if "commitInfo" in a]
        rest = [a for a in actions if "commitInfo" not in a]
        ci = cis[0] if cis else dlog.commit_info("WRITE")
        ci["commitInfo"]["inCommitTimestamp"] = ict
        return [ci, *rest]

    def _snapshot(self, version: int | None = None) -> dlog.Snapshot:
        snap = dlog.replay(self.path, until=version)
        if snap.version < 0:
            raise FileNotFoundError(f"no Deltaish log at {self.path}")
        conf = snap.metadata.get("configuration", {}) or {}
        cm = conf.get("delta.columnMapping.mode", "none")
        if cm not in ("none", "name", "id"):
            raise NotImplementedError(
                f"delta.columnMapping.mode={cm!r}: unknown mapping "
                "mode; reading under a guess would corrupt results. "
                "Read with delta-spark."
            )
        feats = set(snap.protocol.get("readerFeatures", []) or [])
        bad = feats - self._SUPPORTED_READER_FEATURES
        if bad:
            raise NotImplementedError(
                f"log requires reader feature(s) {sorted(bad)}; "
                "this reader does not implement them and reading "
                "would corrupt results. Read with delta-spark."
            )
        return snap

    def _check_writer_protocol(
        self, snap: dlog.Snapshot, actions: list[dict]
    ) -> None:
        """Writer-side protocol gate, run before EVERY commit:

        - unknown writerFeatures refuse (the feature encodes an
          invariant this writer would break without knowing);
        - ``delta.appendOnly=true`` blocks any commit that removes
          live data (remove with dataChange=true — DELETE, UPDATE,
          MERGE-delete, overwrite, restore); pure-compaction removes
          (dataChange=false) stay legal, matching delta-spark.
        """
        feats = set(snap.protocol.get("writerFeatures", []) or [])
        bad = feats - self._SUPPORTED_WRITER_FEATURES
        if bad:
            raise NotImplementedError(
                f"table requires writer feature(s) {sorted(bad)}; "
                "this writer does not implement them and committing "
                "would break their invariants. Write with delta-spark."
            )
        conf = snap.metadata.get("configuration", {}) or {}
        if str(conf.get("delta.appendOnly", "false")).lower() == "true":
            for a in actions:
                if "remove" in a and a["remove"].get("dataChange", True):
                    raise ValueError(
                        "table is append-only (delta.appendOnly=true): "
                        "DELETE/UPDATE/MERGE-delete/overwrite/restore "
                        "are blocked; unset the property first"
                    )

    @staticmethod
    def _walk_for_nested_mapping(type_json) -> bool:
        """True if any NESTED field carries a physicalName annotation
        (top-level mapping is handled; nested needs per-level rename
        through structs/arrays/maps, documented out of scope)."""
        if isinstance(type_json, dict):
            for f in type_json.get("fields", []) or []:
                md = f.get("metadata", {}) or {}
                if "delta.columnMapping.physicalName" in md:
                    return True
                if DeltaishTable._walk_for_nested_mapping(f.get("type")):
                    return True
            for k in ("elementType", "valueType", "keyType"):
                if DeltaishTable._walk_for_nested_mapping(
                    type_json.get(k)
                ):
                    return True
        return False

    def _column_mapping(self, snap: dlog.Snapshot) -> dict[str, str]:
        """logical -> physical top-level column names under NAME-mode
        column mapping (delta-spark stores the physical parquet column
        name in each schema field's metadata as
        ``delta.columnMapping.physicalName``). Empty dict when the
        table has no mapping. Nested mapped fields raise — partially
        honoring a mapping would silently null the nested columns."""
        conf = snap.metadata.get("configuration", {}) or {}
        if conf.get("delta.columnMapping.mode", "none") == "none":
            return {}
        out: dict[str, str] = {}
        for f in json.loads(snap.metadata["schemaString"])["fields"]:
            if self._walk_for_nested_mapping(f.get("type")):
                raise NotImplementedError(
                    f"column {f['name']!r}: nested column-mapping "
                    "annotations are not supported. Read with "
                    "delta-spark."
                )
            md = f.get("metadata", {}) or {}
            phys = md.get("delta.columnMapping.physicalName")
            if phys:
                out[f["name"]] = phys
        return out

    def _column_ids(self, snap: dlog.Snapshot) -> dict[str, int]:
        """logical name -> parquet field id under ID-mode mapping
        (``delta.columnMapping.id`` field metadata). The protocol
        requires every field to carry an id in id mode; a field
        without one is refused — resolving it by name instead would
        silently read the wrong column after a rename."""
        out: dict[str, int] = {}
        for f in json.loads(snap.metadata["schemaString"])["fields"]:
            md = f.get("metadata", {}) or {}
            if "delta.columnMapping.id" not in md:
                raise NotImplementedError(
                    f"id-mode column mapping: field {f['name']!r} has "
                    "no delta.columnMapping.id; cannot resolve it by "
                    "parquet field id. Read with delta-spark."
                )
            out[f["name"]] = int(md["delta.columnMapping.id"])
        return out

    @property
    def version(self) -> int:
        return self._snapshot().version

    def verify_checksum(self, version: int | None = None) -> bool | None:
        """Validate the VERSION_CHECKSUM file at ``version`` (default
        latest) against a fresh replay — True on match, None when the
        version carries no ``.crc`` (e.g. written by an engine that
        skips them), raises on disagreement (delta/log.py
        validate_version_checksum)."""
        return dlog.validate_version_checksum(self.path, version)

    def detail(self) -> dict:
        """DESCRIBE DETAIL: one dict of table-level facts from the
        current snapshot — id/format/location, partition and
        clustering columns, live file count and byte/row totals,
        properties, protocol, and feature lists. Pure log metadata:
        zero data IO at any table size."""
        snap = self._snapshot()
        n_rows = 0
        have_stats = True
        for a in snap.files.values():
            stats = a.get("stats")
            s = (
                json.loads(stats)
                if isinstance(stats, str)
                else (stats or {})
            )
            n = s.get("numRecords")
            if n is None:
                have_stats = False
            else:
                n_rows += int(n)
        proto = snap.protocol or {}
        return {
            "id": snap.metadata.get("id"),
            "format": "parquet",
            "location": self.path,
            "partitionColumns": list(
                snap.metadata.get("partitionColumns", [])
            ),
            "clusteringColumns": self._clustering_logical(snap),
            "numFiles": len(snap.files),
            "sizeInBytes": sum(
                a.get("size", 0) for a in snap.files.values()
            ),
            "numRows": n_rows if have_stats else None,
            "numDeletionVectors": sum(
                1 for a in snap.files.values() if a.get("deletionVector")
            ),
            "properties": dict(
                snap.metadata.get("configuration", {}) or {}
            ),
            "minReaderVersion": proto.get("minReaderVersion"),
            "minWriterVersion": proto.get("minWriterVersion"),
            "readerFeatures": sorted(proto.get("readerFeatures") or []),
            "writerFeatures": sorted(proto.get("writerFeatures") or []),
            "version": snap.version,
        }

    def history(self) -> list[dict]:
        return dlog.history(self.path)

    # ------------------------------------------------------------ writes

    def _physicalize(
        self, df: DataFrame, snap: dlog.Snapshot | None, mapping: dict[str, str] | None = None
    ) -> tuple[DataFrame, dict[str, str]]:
        """Rename a logical-name frame to PHYSICAL column names before
        writing it into a column-mapped table, attaching each field's
        ``parquet.field.id`` so the written footers satisfy id-mode
        readers too (Spark writes the annotation when
        spark.sql.parquet.fieldId.write.enabled, its default). Columns
        outside the mapping (``_change_type``, engine tags) pass
        through unchanged. Returns (physical df, logical->physical
        mapping); identity mapping -> the frame untouched."""
        if mapping is None:
            mapping = self._column_mapping(snap) if snap is not None else {}
        if not mapping:
            return df, {}
        ids: dict[str, int] = {}
        schema_src = (
            snap.metadata.get("schemaString") if snap is not None else None
        )
        if schema_src:
            for f in json.loads(schema_src)["fields"]:
                md = f.get("metadata", {}) or {}
                if "delta.columnMapping.id" in md:
                    ids[f["name"]] = int(md["delta.columnMapping.id"])
        cols = []
        for c in df.columns:
            phys = mapping.get(c, c)
            if c in ids:
                cols.append(
                    F.col(c).alias(phys, metadata={"parquet.field.id": ids[c]})
                )
            else:
                cols.append(F.col(c).alias(phys))
        return df.select(*cols), mapping

    def _write_files(
        self,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        snap: dlog.Snapshot | None = None,
        mapping: dict[str, str] | None = None,
    ) -> list[dict]:
        """Write ``df`` through Spark into fresh uniquely-named parquet
        files under the table root (partition dirs per the Hive
        layout), returning their ``add`` payloads with footer stats.

        Under column mapping the caller's frame speaks LOGICAL names;
        files, partition directories, and footer stats are written
        under PHYSICAL names (``snap`` supplies the mapping; an
        explicit ``mapping`` overrides it for commits that evolve the
        mapping in the same transaction). create() predates the log,
        so when neither is given the latest snapshot is consulted.

        Failure-safe: the staging dir is removed on every exit path,
        and files already moved out of staging are deleted again if a
        later move/stat fails — an aborted write leaves no orphans
        under the table root (uncommitted files would be invisible to
        the log but would corrupt a naive directory listing)."""
        if mapping is None and snap is None and dlog.list_versions(self.path):
            snap = dlog.replay(self.path)
        df, mapping = self._physicalize(df, snap, mapping)
        indexed = self._stats_indexed_set(snap, df, mapping)
        prev_fid = None
        if mapping:
            partition_by = tuple(mapping.get(c, c) for c in partition_by)
            # field ids in the footers (id-mode readability); restore
            # the session conf afterwards — it must not leak into
            # unrelated writes on the shared session
            prev_fid = self.spark.conf.get(
                "spark.sql.parquet.fieldId.write.enabled", "true"
            )
            self.spark.conf.set(
                "spark.sql.parquet.fieldId.write.enabled", "true"
            )
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        moved: list[str] = []
        adds: list[dict] = []
        try:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(staging)
            # enumerate first, move second: a failure during the scan
            # leaves everything inside staging for the finally-cleanup
            pending: list[tuple[str, str, dict]] = []
            # sorted walk, and names that sort in that order: the
            # commit order (hence the row ids a commit or a backfill
            # assigns, and a rewrite's input order) is the same on
            # every run of the same write
            for root, dirs, files in os.walk(staging):
                dirs.sort()
                for fn in sorted(files):
                    if not fn.endswith(".parquet"):
                        continue
                    rel_dir = os.path.relpath(root, staging)
                    pv = _parse_partition_dirs(rel_dir)
                    new_name = (
                        f"part-{len(pending):05d}-{uuid.uuid4().hex}"
                        ".snappy.parquet"
                    )
                    rel_path = (
                        f"{rel_dir.replace(os.sep, '/')}/{new_name}"
                        if rel_dir not in (".", "")
                        else new_name
                    )
                    pending.append((os.path.join(root, fn), rel_path, pv))
            for src, rel_path, pv in pending:
                stats = file_footer_stats(src, indexed)
                if stats["numRecords"] == 0:
                    # Spark emits a parquet file per empty write
                    # partition; committing it would add a useless
                    # add action per write (log bloat at scale) and
                    # an unprunable zero-row file. Delta writers
                    # never commit empty data files.
                    continue
                dest = os.path.join(self.path, rel_path)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.rename(src, dest)
                moved.append(dest)
                adds.append(
                    {
                        "path": rel_path,
                        "partitionValues": pv,
                        "size": os.path.getsize(dest),
                        "modificationTime": int(time.time() * 1000),
                        "dataChange": True,
                        "stats": json.dumps(
                            stats, separators=(",", ":")
                        ),
                    }
                )
        except BaseException:
            for dest in moved:
                if os.path.exists(dest):
                    os.remove(dest)
            raise
        finally:
            shutil.rmtree(staging, ignore_errors=True)
            if prev_fid is not None:
                self.spark.conf.set(
                    "spark.sql.parquet.fieldId.write.enabled", prev_fid
                )
        return adds

    def _commit_next(
        self,
        actions: list[dict],
        retry_append: bool = False,
        read_version: int | None = None,
        version_stamp=None,
    ) -> int:
        """Optimistic concurrency: try latest+1; blind-retry only for
        appends (they commute with any concurrent commit), surface the
        conflict otherwise — Delta's OCC split.

        ``read_version`` is the snapshot version the operation computed
        its result from. For a REWRITE commit (merge/overwrite/
        optimize/zorder), any commit since then that added or removed
        data files means the rewrite's inputs are stale — e.g. a
        concurrent append whose keys the merge never saw — so the
        commit fails with ConcurrentCommitError instead of silently
        committing over it (Delta's ConcurrentAppendException /
        ConcurrentDeleteRead conflict checks). An APPEND commutes with
        concurrent data commits, but NOT with a concurrent metaData
        commit (ADD CONSTRAINT / schema change): the append validated
        CHECK constraints and schema against its read snapshot, so
        blind-retrying past new metadata would land unvalidated rows —
        Delta fails these with MetadataChangedException. Callers re-run
        the whole operation against the new snapshot."""
        for _ in range(20):
            snap_now = self._snapshot()
            self._check_writer_protocol(snap_now, actions)
            actions = self._apply_ict(snap_now, actions)
            v = snap_now.version + 1
            actions = self._assign_row_ids(snap_now, actions, v)
            if version_stamp is not None:
                # Re-stamp version-dependent action fields with the
                # version this attempt will actually land at — a benign
                # intervening commit (commitInfo/txn-only, which the
                # conflict scan permits) can push v past
                # read_version + 1, and e.g. delta.typeChanges
                # tableVersion stamped from the stale snapshot would
                # point external readers at the wrong file boundary.
                actions = version_stamp(actions, v)
            if read_version is not None:
                for cv in range(read_version + 1, v):
                    for action in dlog.read_commit(self.path, cv):
                        if "metaData" in action:
                            raise ConcurrentCommitError(
                                f"commit {cv} changed table metadata "
                                f"after read snapshot {read_version} "
                                "(MetadataChangedException); re-validate "
                                "against the latest snapshot"
                            )
                        if "protocol" in action:
                            # Two concurrent protocol-upgrading commits
                            # (e.g. enable_v2_checkpoints vs
                            # enable_vacuum_protocol_check) each compute
                            # their feature list from a stale snapshot;
                            # letting the second land would clobber the
                            # first's features. Delta fails these with
                            # ProtocolChangedException — and the check
                            # applies to appends too (their writer-
                            # protocol validation used the old protocol).
                            raise ConcurrentCommitError(
                                f"commit {cv} changed the table protocol "
                                f"after read snapshot {read_version} "
                                "(ProtocolChangedException); recompute "
                                "against the latest snapshot"
                            )
                        if not retry_append and (
                            "add" in action or "remove" in action
                        ):
                            raise ConcurrentCommitError(
                                f"commit {cv} changed data files after "
                                f"read snapshot {read_version}; re-run "
                                "the operation on the latest snapshot"
                            )
            try:
                stripped = self._strip_rt_marks(actions)
                dlog.write_commit(self.path, v, stripped)
                # incremental VERSION_CHECKSUM: the post-commit live
                # set is the read snapshot's plus this commit's file
                # actions — O(actions), never a log replay
                files = dict(snap_now.files)
                for a in stripped:
                    if "add" in a:
                        files[a["add"]["path"]] = a["add"]
                    elif "remove" in a:
                        files.pop(a["remove"]["path"], None)
                dlog.write_version_checksum(self.path, v, files)
                if v > 0 and v % self.CHECKPOINT_INTERVAL == 0:
                    if self._v2_checkpoints_on(snap_now):
                        dlog.write_checkpoint_v2(self.path, v)
                    else:
                        dlog.write_checkpoint(self.path, v)
                return v
            except ConcurrentCommitError:
                if not retry_append:
                    raise
        raise ConcurrentCommitError("gave up after 20 append retries")

    # Delta's default cadence: parquet-checkpoint the log every 10
    # commits so readers open O(10) files regardless of history length.
    CHECKPOINT_INTERVAL = 10

    def _schema_for(self, snap: dlog.Snapshot) -> T.StructType:
        return T.StructType.fromJson(json.loads(snap.metadata["schemaString"]))

    def _enforce_or_evolve(
        self, df: DataFrame, snap: dlog.Snapshot, merge_schema: bool
    ) -> T.StructType | None:
        """Delta's write-side schema contract: reject unknown columns
        and type changes unless ``merge_schema`` (mergeSchema option)
        evolves the table schema by appending the new nullable fields.
        Returns the evolved schema, or None if unchanged. Missing
        columns are always fine — old files simply lack them and read
        back as null."""
        declared = self._schema_for(snap)
        dmap = {f.name: f.dataType for f in declared.fields}
        new_fields = []
        for f in df.schema.fields:
            if f.name in dmap:
                if f.dataType != dmap[f.name]:
                    raise ValueError(
                        f"type change for column {f.name!r}: table has "
                        f"{dmap[f.name].simpleString()}, write has "
                        f"{f.dataType.simpleString()}"
                    )
            elif merge_schema:
                new_fields.append(T.StructField(f.name, f.dataType, True))
            else:
                raise ValueError(
                    f"column {f.name!r} is not in the table schema; "
                    "pass merge_schema=True to evolve"
                )
        if not new_fields:
            return None
        return T.StructType(list(declared.fields) + new_fields)

    # ------------------------------------------------- identity columns

    IDENTITY_START = "delta.identity.start"
    IDENTITY_STEP = "delta.identity.step"
    IDENTITY_HWM = "delta.identity.highWaterMark"
    IDENTITY_ALLOW = "delta.identity.allowExplicitInsert"

    def _identity_meta(self, snap: dlog.Snapshot) -> dict[str, dict]:
        """GENERATED ALWAYS AS IDENTITY columns: name -> the field's
        metadata dict (the protocol stores start/step/highWaterMark as
        delta.identity.* field-metadata annotations)."""
        out: dict[str, dict] = {}
        for f in json.loads(snap.metadata["schemaString"])["fields"]:
            md = f.get("metadata", {}) or {}
            if self.IDENTITY_START in md or self.IDENTITY_STEP in md:
                out[f["name"]] = md
        return out

    @staticmethod
    def _assign_identity(
        df: DataFrame, col: str, base: int, step: int
    ) -> tuple[DataFrame, int | None]:
        """Assign ``base, base+step, ...`` to ``col`` without a global
        sort: pin the partitioning (localCheckpoint), count rows per
        partition, prefix-sum the counts on the driver (O(#parts)),
        then id = base + step * (partition_offset + local row_number
        - 1). Returns (df, new high-water mark) — None when empty.
        Values are unique and increasing; Delta's identity contract
        allows gaps, this assignment happens to be dense per commit."""
        df = df.localCheckpoint(eager=True)
        with_pid = df.withColumn("__pid", F.spark_partition_id())
        counts = {
            r["__pid"]: r["cnt"]
            for r in with_pid.groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        if not counts:
            return df.withColumn(col, F.lit(None).cast("long")), None
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        omap = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )
        w = Window.partitionBy("__pid").orderBy(
            F.monotonically_increasing_id()
        )
        out = with_pid.withColumn(
            col,
            (
                F.lit(base)
                + F.lit(step)
                * (omap[F.col("__pid")] + F.row_number().over(w) - 1)
            ).cast("long"),
        ).drop("__pid")
        return out, base + step * (acc - 1)

    def _apply_identity(
        self, df: DataFrame, snap: dlog.Snapshot
    ) -> tuple[DataFrame, dict[str, int]]:
        """Delta's identity write contract: the engine assigns values
        from the high-water mark; a writer SUPPLYING the column is
        rejected (GENERATED ALWAYS, allowExplicitInsert=false).
        Returns (df with ids, {col: new high-water mark}) — the caller
        commits the HWM bump as a metaData action, so a concurrent
        identity append conflicts (MetadataChangedException) instead
        of double-assigning the same block."""
        ids = self._identity_meta(snap)
        if not ids:
            return df, {}
        hwm_updates: dict[str, int] = {}
        for c, md in ids.items():
            if c in df.columns:
                if not md.get(self.IDENTITY_ALLOW, False):
                    raise ValueError(
                        f"column {c!r} is GENERATED ALWAYS AS "
                        "IDENTITY; explicit values are not accepted"
                    )
                continue
            start = int(md.get(self.IDENTITY_START, 1))
            step = int(md.get(self.IDENTITY_STEP, 1))
            base = (
                int(md[self.IDENTITY_HWM]) + step
                if self.IDENTITY_HWM in md
                else start
            )
            df, hwm = self._assign_identity(df, c, base, step)
            if hwm is not None:
                hwm_updates[c] = hwm
        return df, hwm_updates

    def _schema_json_with_hwm(
        self, schema_json_str: str, hwm_updates: dict[str, int]
    ) -> str:
        sj = json.loads(schema_json_str)
        for f in sj["fields"]:
            if f["name"] in hwm_updates:
                f["metadata"] = dict(f.get("metadata", {}) or {})
                f["metadata"][self.IDENTITY_HWM] = hwm_updates[
                    f["name"]
                ]
        return json.dumps(sj)

    def _generated_exprs(self, snap: dlog.Snapshot) -> dict[str, str]:
        """GENERATED ALWAYS AS columns: name -> SQL expression, from
        the ``delta.generationExpression`` field-metadata annotations
        (the protocol's representation)."""
        out: dict[str, str] = {}
        for f in json.loads(snap.metadata["schemaString"])["fields"]:
            md = f.get("metadata", {}) or {}
            expr = md.get("delta.generationExpression")
            if expr:
                out[f["name"]] = expr
        return out

    def _apply_generated(
        self, df: DataFrame, snap: dlog.Snapshot
    ) -> DataFrame:
        """Delta's generated-column write contract: a column the writer
        OMITS is computed from its expression; a column the writer
        SUPPLIES must equal it row-for-row (checked with null-safe
        equality, one filter scan per generated column)."""
        gen = self._generated_exprs(snap)
        if not gen:
            return df
        declared = {
            f.name: f.dataType for f in self._schema_for(snap).fields
        }
        for c, expr in gen.items():
            e = F.expr(expr).cast(declared[c])
            if c not in df.columns:
                df = df.withColumn(c, e)
            else:
                bad = (
                    df.filter(~F.col(c).eqNullSafe(e)).limit(1).collect()
                )
                if bad:
                    raise ValueError(
                        f"generated column {c!r} violated: supplied "
                        f"value diverges from {expr!r}, e.g. row "
                        f"{bad[0].asDict()}"
                    )
        return df

    def _metadata_action(self, snap: dlog.Snapshot, schema: T.StructType) -> dict:
        md = dict(snap.metadata)
        md["schemaString"] = schema.json()
        return {"metaData": md}

    MAPPING_MODE = "delta.columnMapping.mode"
    MAPPING_MAX_ID = "delta.columnMapping.maxColumnId"
    MAPPING_ID = "delta.columnMapping.id"
    MAPPING_PHYS = "delta.columnMapping.physicalName"

    def _mapped_schema_json(
        self, snap: dlog.Snapshot, schema: T.StructType
    ) -> tuple[str, dict, dict[str, str]]:
        """Annotate ``schema`` (the post-evolution or replacement
        logical schema) with column-mapping field metadata: a field
        whose logical name already exists KEEPS its id/physicalName
        (so its data files remain addressable), a NEW field mints
        id = maxColumnId+1 and physicalName = ``col-<uuid>`` — the
        protocol's rule that guarantees a dropped-then-re-added
        column can never resurrect the old column's bytes. Returns
        (schemaString, updated configuration, logical->physical
        mapping). Caller must be under an active mapping mode."""
        prior = {
            f["name"]: (f.get("metadata", {}) or {})
            for f in json.loads(snap.metadata["schemaString"])["fields"]
        }
        conf = dict(snap.metadata.get("configuration", {}) or {})
        max_id = int(conf.get(self.MAPPING_MAX_ID, 0))
        sj = json.loads(schema.json())
        mapping: dict[str, str] = {}
        for f in sj["fields"]:
            md = dict(f.get("metadata", {}) or {})
            old = prior.get(f["name"])
            if old is not None and self.MAPPING_PHYS in old:
                if self.MAPPING_ID in old:
                    md[self.MAPPING_ID] = old[self.MAPPING_ID]
                md[self.MAPPING_PHYS] = old[self.MAPPING_PHYS]
            else:
                max_id += 1
                md[self.MAPPING_ID] = max_id
                md[self.MAPPING_PHYS] = f"col-{uuid.uuid4().hex}"
            f["metadata"] = md
            mapping[f["name"]] = md[self.MAPPING_PHYS]
        conf[self.MAPPING_MAX_ID] = str(max_id)
        return json.dumps(sj), conf, mapping

    # ------------------------------------------------- CHECK constraints

    CONSTRAINT_PREFIX = "delta.constraints."

    def check_constraints(self) -> dict[str, str]:
        """Active CHECK constraints: name -> SQL expression (stored in
        metadata.configuration under delta.constraints.<name>, the
        protocol's representation)."""
        conf = self._snapshot().metadata.get("configuration", {}) or {}
        p = self.CONSTRAINT_PREFIX
        return {k[len(p):]: v for k, v in conf.items() if k.startswith(p)}

    def add_check_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ... ADD CONSTRAINT ... CHECK (expr). Like Delta,
        existing data is validated first — the constraint commit fails
        if any current row violates it — and the commit carries the
        read snapshot so a concurrent data write conflicts instead of
        slipping in unvalidated."""
        snap = self._snapshot()
        key = self.CONSTRAINT_PREFIX + name
        conf = dict(snap.metadata.get("configuration", {}) or {})
        if key in conf:
            raise ValueError(f"constraint {name!r} already exists")
        # validation scans only files whose stats could hold a
        # VIOLATING row (expr IS FALSE implies NOT(expr) IS TRUE, so
        # the candidate set of NOT(expr) covers every violator;
        # unsupported expression shapes keep all files). ADD
        # CONSTRAINT on a 100 TB table then reads only the files the
        # log cannot prove clean.
        cand = self.files_matching_predicate(f"NOT ({expr})", snap=snap)
        if cand:
            self._violations_or_raise(
                self._read_snapshot_files(snap, cand), {name: expr}
            )
        conf[key] = expr
        return self._alter(
            snap,
            "ADD CONSTRAINT",
            {"name": name, "expr": expr},
            meta={"configuration": conf},
            features={"checkConstraints"},
        )

    def set_table_properties(self, props: dict[str, str]) -> int:
        """ALTER TABLE ... SET TBLPROPERTIES: a metadata-only commit
        updating ``configuration``. CHECK constraints and column
        mapping have dedicated APIs with their own validation — they
        are refused here so the generic path cannot dodge it. A value
        of None UNSETs the property."""
        for k in props:
            if k.startswith(self.CONSTRAINT_PREFIX):
                raise ValueError(
                    f"{k!r}: use add_check_constraint (it validates "
                    "existing rows)"
                )
            if k == self.MAPPING_MODE:
                raise ValueError(
                    f"{k!r}: use enable_column_mapping (it assigns "
                    "physical names and upgrades the protocol)"
                )
            if k == self.ICT_ENABLE:
                raise ValueError(
                    f"{k!r}: use enable_in_commit_timestamps (it "
                    "records the enablement version and the writer "
                    "feature)"
                )
            if k == self.RT_ENABLE:
                raise ValueError(
                    f"{k!r}: use enable_row_tracking (it backfills "
                    "baseRowIds, mints the materialized column names, "
                    "and registers the writer features)"
                )
            if k == "delta.enableChangeDataFeed":
                raise ValueError(
                    f"{k!r}: use enable_change_data_feed (it records "
                    "the enablement version the feed readers check)"
                )
            if k in (self.RT_ID_COL, self.RT_VER_COL):
                raise ValueError(
                    f"{k!r} is engine-managed bookkeeping (minted by "
                    "enable_row_tracking); overwriting it would break "
                    "row-id preservation through OPTIMIZE/clone"
                )
            if k == self.MAPPING_MAX_ID:
                raise ValueError(
                    f"{k!r} is engine-managed bookkeeping (advanced "
                    "by schema evolution under column mapping); "
                    "overwriting it would cause future column-id "
                    "collisions"
                )
            if k == "delta.dataSkippingNumIndexedCols":
                v = props[k]
                try:
                    n = int(v)
                except (TypeError, ValueError):
                    n = -2
                if n < -1:
                    raise ValueError(
                        f"delta.dataSkippingNumIndexedCols {v!r}: "
                        "expected -1 (all columns) or a non-negative "
                        "column count"
                    )
        snap = self._snapshot()
        conf = dict(snap.metadata.get("configuration", {}) or {})
        for k, v in props.items():
            if v is None:
                conf.pop(k, None)
            else:
                conf[k] = str(v)
        return self._alter(
            snap,
            "SET TBLPROPERTIES",
            {"properties": {k: str(v) for k, v in props.items()}},
            meta={"configuration": conf},
        )

    def drop_check_constraint(self, name: str) -> int:
        snap = self._snapshot()
        key = self.CONSTRAINT_PREFIX + name
        conf = dict(snap.metadata.get("configuration", {}) or {})
        if key not in conf:
            raise ValueError(f"no such constraint {name!r}")
        del conf[key]
        return self._alter(
            snap,
            "DROP CONSTRAINT",
            {"name": name},
            meta={"configuration": conf},
        )

    def _violations_or_raise(self, df: DataFrame, constraints: dict) -> None:
        """Raise if any row violates any CHECK (expression evaluates to
        FALSE; a NULL/UNKNOWN result passes, per SQL CHECK semantics —
        but note IS NOT NULL on a null IS false, a violation). One
        filter scan over the candidate frame per write — the same work
        Delta folds into its write job."""
        for name, expr in constraints.items():
            bad = df.filter(F.expr(expr) == False).limit(1).collect()  # noqa: E712
            if bad:
                raise ValueError(
                    f"CHECK constraint {name!r} ({expr}) violated, "
                    f"e.g. row {bad[0].asDict()}"
                )

    def _enforce_checks(self, df: DataFrame, snap: dlog.Snapshot) -> None:
        conf = snap.metadata.get("configuration", {}) or {}
        p = self.CONSTRAINT_PREFIX
        cs = {k[len(p):]: v for k, v in conf.items() if k.startswith(p)}
        # column invariants (writer protocol v2's delta.invariants
        # field-metadata annotation, the pre-table-feature CHECK):
        # enforced with the same violation scan as CHECK constraints
        for f in json.loads(snap.metadata["schemaString"])["fields"]:
            inv = (f.get("metadata", {}) or {}).get("delta.invariants")
            if inv:
                cs[f"invariant({f['name']})"] = json.loads(inv)[
                    "expression"
                ]["expression"]
        if not cs:
            return
        # a pre-evolution writer's frame may lack declared columns a
        # constraint references; Delta materializes those as NULL and
        # still evaluates the CHECK (so `x IS NOT NULL` correctly
        # rejects a write that omits x). Augment with typed nulls
        # rather than skipping.
        have = {f.name for f in df.schema.fields}
        missing = [
            f
            for f in self._schema_for(snap).fields
            if f.name not in have
        ]
        probe = df
        for f in missing:
            probe = probe.withColumn(
                f.name, F.lit(None).cast(f.dataType)
            )
        self._violations_or_raise(probe, cs)

    # ------------------------------------------------- column mapping DDL

    @staticmethod
    def _expr_references(expr: str, col: str) -> bool:
        """Conservative identifier match: does ``expr`` mention ``col``
        as a standalone token? (Delta resolves the expression tree; a
        regex over-matches only into refusing, never into allowing.)"""
        import re as _re

        return bool(
            _re.search(
                rf"(?<![A-Za-z0-9_]){_re.escape(col)}(?![A-Za-z0-9_])",
                expr,
            )
        )

    def _referencing_exprs(
        self, snap: dlog.Snapshot, col: str
    ) -> list[str]:
        """Every CHECK-constraint or generated-column expression that
        mentions ``col`` — renaming or dropping the column would break
        them (Delta refuses the same way)."""
        out = []
        conf = snap.metadata.get("configuration", {}) or {}
        for k, expr in conf.items():
            if k.startswith(self.CONSTRAINT_PREFIX) and self._expr_references(
                expr, col
            ):
                out.append(f"constraint {k[len(self.CONSTRAINT_PREFIX):]}: {expr}")
        for f in json.loads(snap.metadata["schemaString"])["fields"]:
            md = f.get("metadata", {}) or {}
            expr = md.get("delta.generationExpression")
            if expr and f["name"] != col and self._expr_references(expr, col):
                out.append(f"generated column {f['name']}: {expr}")
            inv = md.get("delta.invariants")
            if inv:
                iexpr = json.loads(inv)["expression"]["expression"]
                if self._expr_references(iexpr, col):
                    out.append(f"invariant on {f['name']}: {iexpr}")
        return out

    def enable_column_mapping(self, mode: str = "name") -> int:
        """ALTER TABLE ... SET TBLPROPERTIES
        ('delta.columnMapping.mode' = 'name'): upgrade an existing
        table to NAME-mode column mapping. Every top-level field is
        annotated with ``delta.columnMapping.id`` (1-based field
        position) and ``physicalName`` equal to its CURRENT name — so
        files already on disk stay addressable — and the protocol is
        raised to (2, 5), the mapping feature's floor. After this,
        RENAME/DROP COLUMN are metadata-only commits and new columns
        get uuid physical names.

        ``mode='id'`` is refused for upgrades, as delta-spark refuses
        it: existing files carry no parquet field ids, so id-mode
        reads of them would fail. Id-mode tables are supported
        read-side when created by an engine that wrote ids."""
        if mode != "name":
            raise NotImplementedError(
                f"column mapping upgrade supports mode='name' only, "
                f"not {mode!r}: existing parquet files carry no field "
                "ids, so an id-mode read of them would fail loudly"
            )
        snap = self._snapshot()
        conf = dict(snap.metadata.get("configuration", {}) or {})
        cur = conf.get(self.MAPPING_MODE, "none")
        if cur != "none":
            raise ValueError(f"column mapping already enabled ({cur!r})")
        sj = json.loads(snap.metadata["schemaString"])
        for i, f in enumerate(sj["fields"]):
            md = dict(f.get("metadata", {}) or {})
            md[self.MAPPING_ID] = i + 1
            md[self.MAPPING_PHYS] = f["name"]
            f["metadata"] = md
        conf[self.MAPPING_MODE] = "name"
        conf[self.MAPPING_MAX_ID] = str(len(sj["fields"]))
        return self._alter(
            snap,
            "SET TBLPROPERTIES",
            {"properties": {self.MAPPING_MODE: "name"}},
            meta={"schemaString": json.dumps(sj), "configuration": conf},
            features={"columnMapping"},
        )

    # Widenings the typeWidening table feature permits AND Spark's
    # vectorized parquet reader performs natively on scan (verified:
    # int32 pages read under a wider read schema) — so a widen is a
    # METADATA-ONLY commit and the old files are never rewritten.
    # Decimal-precision and date→timestampNTZ widening are documented
    # out of scope (different physical encodings).
    _TYPE_WIDENINGS = {
        "byte": {"short", "integer", "long", "double"},
        "short": {"integer", "long", "double"},
        "integer": {"long", "double"},
        "float": {"double"},
    }

    def widen_column_type(self, col: str, new_type: str) -> int:
        """ALTER TABLE ... ALTER COLUMN col TYPE new_type under the
        typeWidening table feature: the schema field changes to the
        wider type, the change is journaled in the field's
        ``delta.typeChanges`` metadata (fromType/toType/tableVersion —
        what external readers use to know which files carry the
        narrow physical type), and the protocol lists typeWidening in
        BOTH feature lists at (3,7) — a reader that ignored it would
        read int32 pages under a long schema unprepared. Any
        non-widening change refuses: narrowing silently truncates,
        and that is a data-corruption path, not an ALTER."""
        snap = self._snapshot()
        sj = json.loads(snap.metadata["schemaString"])
        field = next((f for f in sj["fields"] if f["name"] == col), None)
        if field is None:
            raise ValueError(f"no such column {col!r}")
        cur = field["type"]
        if not isinstance(cur, str):
            raise NotImplementedError(
                f"type widening supports primitive columns; {col!r} is "
                f"nested ({json.dumps(cur)[:40]}...)"
            )
        if new_type == cur:
            return snap.version
        if new_type not in self._TYPE_WIDENINGS.get(cur, set()):
            raise ValueError(
                f"cannot change {col!r} from {cur} to {new_type}: not a "
                "supported widening (narrowing or cross-family changes "
                "would corrupt existing data)"
            )
        md_field = dict(field.get("metadata", {}) or {})
        changes = list(md_field.get("delta.typeChanges", []) or [])
        changes.append(
            {
                "fromType": cur,
                "toType": new_type,
                "tableVersion": snap.version + 1,
            }
        )
        md_field["delta.typeChanges"] = changes
        field["type"] = new_type
        field["metadata"] = md_field

        def _stamp(acts: list[dict], v: int) -> list[dict]:
            # tableVersion must be the version the ALTER actually
            # commits at, not read-snapshot+1: it is the boundary
            # readers use to decide which files still carry the narrow
            # physical type.
            for a in acts:
                if "metaData" not in a:
                    continue
                sjv = json.loads(a["metaData"]["schemaString"])
                for f in sjv["fields"]:
                    if f["name"] != col:
                        continue
                    chs = (f.get("metadata") or {}).get(
                        "delta.typeChanges"
                    ) or []
                    if chs:
                        chs[-1]["tableVersion"] = v
                a["metaData"]["schemaString"] = json.dumps(sjv)
            return acts

        return self._alter(
            snap,
            "ALTER COLUMN",
            {"column": col, "fromType": cur, "toType": new_type},
            meta={"schemaString": json.dumps(sj)},
            features={"typeWidening"},
            version_stamp=_stamp,
        )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE ... RENAME COLUMN old TO new — metadata-only
        under column mapping (the physical name and id never change,
        so zero files are rewritten; a 100 TB table renames in one
        commit). Refused without mapping (Delta's rule: without it a
        rename would silently null the column) and when a CHECK
        constraint or generated-column expression references the
        column. Partition columns rename cleanly: the directory
        layout keys on the physical name, which is stable."""
        snap = self._snapshot()
        if not self._column_mapping(snap):
            raise ValueError(
                "RENAME COLUMN requires column mapping; call "
                "enable_column_mapping() first (without it existing "
                "files keep the old name and would read as null)"
            )
        sj = json.loads(snap.metadata["schemaString"])
        names = [f["name"] for f in sj["fields"]]
        if old not in names:
            raise ValueError(f"no such column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        refs = self._referencing_exprs(snap, old)
        if refs:
            raise ValueError(
                f"cannot rename {old!r}: referenced by {'; '.join(refs)}"
            )
        for f in sj["fields"]:
            if f["name"] == old:
                f["name"] = new
        pcols = snap.metadata.get("partitionColumns", [])
        return self._alter(
            snap,
            "RENAME COLUMN",
            {"old": old, "new": new},
            meta={
                "schemaString": json.dumps(sj),
                "partitionColumns": [new if c == old else c for c in pcols],
            },
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE ... DROP COLUMN — metadata-only under column
        mapping: the field leaves the schema, its bytes stay in the
        files but are unaddressable (re-adding the same logical name
        mints a FRESH physical name, so the old values can never
        resurface — pinned in tests). Refused without mapping, for
        partition columns, and when another expression references the
        column."""
        snap = self._snapshot()
        if not self._column_mapping(snap):
            raise ValueError(
                "DROP COLUMN requires column mapping; call "
                "enable_column_mapping() first"
            )
        sj = json.loads(snap.metadata["schemaString"])
        names = [f["name"] for f in sj["fields"]]
        if name not in names:
            raise ValueError(f"no such column {name!r}")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        if name in (snap.metadata.get("partitionColumns") or []):
            raise ValueError(
                f"cannot drop partition column {name!r}"
            )
        refs = self._referencing_exprs(snap, name)
        if refs:
            raise ValueError(
                f"cannot drop {name!r}: referenced by {'; '.join(refs)}"
            )
        if name in self._clustering_logical(snap):
            raise ValueError(
                f"cannot drop clustering column {name!r}; run "
                "cluster_by() without it first (the delta.clustering "
                "domain would point at a missing column)"
            )
        sj["fields"] = [f for f in sj["fields"] if f["name"] != name]
        return self._alter(
            snap,
            "DROP COLUMNS",
            {"columns": [name]},
            meta={"schemaString": json.dumps(sj)},
        )

    def append(
        self,
        df: DataFrame,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
        merge_schema: bool = False,
    ) -> int:
        """Append with Delta's schema enforcement (unknown columns and
        type changes rejected; ``merge_schema=True`` evolves the table
        schema instead, like the mergeSchema write option). With
        ``txn_app_id``/``txn_version`` the commit also carries the
        protocol's ``txn`` action, making the append idempotent per
        (appId, version) — ``last_txn_version`` lets a retried writer
        detect it already committed."""
        snap = self._snapshot()
        # defaults fill first so generation expressions can read them
        df = self._apply_column_defaults(df, snap)
        df = self._apply_generated(df, snap)
        df, hwm_updates = self._apply_identity(df, snap)
        evolved = self._enforce_or_evolve(df, snap, merge_schema)
        self._enforce_checks(df, snap)
        pcols = tuple(snap.metadata.get("partitionColumns", ()))
        mapping = self._column_mapping(snap)
        evolved_conf = None
        if evolved is not None and mapping:
            # evolving a mapped table mints ids/physicalNames for the
            # new fields; this commit's files must use them
            base, evolved_conf, mapping = self._mapped_schema_json(
                snap, evolved
            )
        elif evolved is not None:
            base = evolved.json()
        else:
            base = snap.metadata["schemaString"]
        adds = self._write_files(df, pcols, snap=snap, mapping=mapping)
        actions: list[dict] = []
        if evolved is not None or hwm_updates:
            md = dict(snap.metadata)
            md["schemaString"] = self._schema_json_with_hwm(
                base, hwm_updates
            )
            if evolved_conf is not None:
                md["configuration"] = evolved_conf
            actions.append({"metaData": md})
        actions.extend({"add": a} for a in adds)
        if txn_app_id is not None:
            actions.append(
                {
                    "txn": {
                        "appId": txn_app_id,
                        "version": int(txn_version or 0),
                        # spec's optional freshness stamp — the handle
                        # setTransactionRetentionDuration expires on
                        "lastUpdated": int(time.time() * 1000),
                    }
                }
            )
        actions.append(dlog.commit_info("WRITE", mode="Append"))
        return self._commit_next(
            actions, retry_append=True, read_version=snap.version
        )

    def last_txn_version(self, txn_app_id: str) -> int:
        """Highest committed ``txn`` version for an application id
        (-1 if none) — the exactly-once watermark for streaming
        writers. Resolved from the replayed snapshot, so it resumes
        from the newest checkpoint (O(tail), not O(history)) and
        survives truncation of checkpointed JSON commits."""
        return self._snapshot().txns.get(txn_app_id, -1)

    def overwrite(self, df: DataFrame, overwrite_schema: bool = False) -> int:
        """Overwrite under schema enforcement; ``overwrite_schema=True``
        REPLACES the table schema with the frame's (Delta's
        overwriteSchema option — legal only together with a data
        overwrite, since old files stop matching)."""
        snap = self._snapshot()
        actions: list[dict] = []
        mapping = self._column_mapping(snap)
        if overwrite_schema:
            if mapping:
                # schema replacement under mapping: surviving logical
                # names keep their physical identity, new ones mint
                # fresh ids — old bytes stay unreachable, per protocol
                sj, conf, mapping = self._mapped_schema_json(
                    snap, df.schema
                )
                md = dict(snap.metadata)
                md["schemaString"] = sj
                md["configuration"] = conf
                actions.append({"metaData": md})
            else:
                actions.append(self._metadata_action(snap, df.schema))
        else:
            # allowColumnDefaults applies to every write path that keeps
            # the table schema, not just append (delta-spark fills
            # CURRENT_DEFAULT on INSERT OVERWRITE too)
            df = self._apply_column_defaults(df, snap)
            df = self._apply_generated(df, snap)
            df, hwm_updates = self._apply_identity(df, snap)
            evolved = self._enforce_or_evolve(df, snap, merge_schema=False)
            assert evolved is None  # merge_schema=False never evolves
            if hwm_updates:
                md = dict(snap.metadata)
                md["schemaString"] = self._schema_json_with_hwm(
                    snap.metadata["schemaString"], hwm_updates
                )
                actions.append({"metaData": md})
        self._enforce_checks(df, snap)
        pcols = tuple(snap.metadata.get("partitionColumns", ()))
        adds = self._write_files(df, pcols, snap=snap, mapping=mapping)
        actions.extend({"add": a} for a in adds)
        actions.extend({"remove": self._tombstone(p)} for p in snap.files)
        actions.append(dlog.commit_info("WRITE", mode="Overwrite"))
        return self._commit_next(actions, read_version=snap.version)

    def overwrite_where(self, df: DataFrame, condition) -> int:
        """INSERT OVERWRITE with ``replaceWhere`` — Delta's selective
        overwrite, the canonical partition-reload: atomically replace
        EXACTLY the rows matching ``condition`` with ``df``'s rows, in
        one commit. The pattern that reloads one day of a
        date-partitioned 100 TB table without touching the rest.

        Delta's semantics, enforced the same way:
        - every incoming row must itself satisfy ``condition``
          (validated; otherwise the write would smuggle rows outside
          the replaced region — delta-spark raises the same error);
        - only files OWNING a matching row are rewritten. Candidates
          come from log-stats data skipping (files_matching_predicate)
          so the find-touched scan never opens provably-clean files;
          non-matching rows of touched files survive via rewrite;
        - CHECK constraints and generated/identity columns apply to
          the incoming rows; under row tracking surviving rows keep
          their ids (commit versions untouched) and incoming rows get
          fresh ids;
        - under CDF the replaced rows record ``delete`` and the
          incoming rows ``insert`` cdc actions."""
        snap = self._snapshot()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        is_match = F.coalesce(cond.cast("boolean"), F.lit(False))
        df = self._apply_column_defaults(df, snap)
        df = self._apply_generated(df, snap)
        df, hwm_updates = self._apply_identity(df, snap)
        evolved = self._enforce_or_evolve(df, snap, merge_schema=False)
        assert evolved is None  # merge_schema=False never evolves
        self._enforce_checks(df, snap)
        stray = df.filter(~is_match).limit(1).collect()
        if stray:
            raise ValueError(
                "replaceWhere: written data contains a row outside "
                f"the replaced region ({condition!s}), e.g. "
                f"{stray[0].asDict()}"
            )
        pcols = tuple(snap.metadata.get("partitionColumns", ()))
        touched = self._touched(
            snap, self.files_matching_predicate(condition, snap=snap), is_match
        )
        extra: list[dict] = []
        if hwm_updates:
            md = dict(snap.metadata)
            md["schemaString"] = self._schema_json_with_hwm(
                snap.metadata["schemaString"], hwm_updates
            )
            extra.append({"metaData": md})
        extra.extend(
            {"add": a} for a in self._write_files(df, pcols, snap=snap)
        )
        kept = changes = None
        if touched:
            kept = self._read_snapshot_files(
                snap, touched, with_row_ids=self._rt_enabled(snap)
            ).filter(~is_match)
        if self._cdf_enabled(snap):
            changes = df.withColumn("_change_type", F.lit("insert"))
            if touched:
                changes = (
                    self._read_snapshot_files(snap, touched)
                    .filter(is_match)
                    .withColumn("_change_type", F.lit("delete"))
                    .unionByName(changes)
                )
        return self._commit_rewrite(
            snap,
            kept,
            touched,
            changes,
            dlog.commit_info(
                "WRITE",
                mode="Overwrite",
                replaceWhere=str(condition),
                numTouchedFiles=len(touched),
            ),
            extra,
        )

    def overwrite_partitions(self, df: DataFrame) -> int:
        """Dynamic partition overwrite (Spark's
        ``partitionOverwriteMode=dynamic`` on a Delta-style log):
        replace ONLY the partitions ``df`` writes into, leaving every
        other partition untouched — the append-or-reload pattern for
        partition-grained backfills. The replaced set is derived from
        the ACTUAL partition directories the write produced (not a
        reimplementation of Hive value formatting), so typed partition
        values can never mismatch their string form. Writing into no
        existing partition degrades to a plain append of new
        partitions. CDF records the replaced partitions' rows as
        deletes and the incoming rows as inserts."""
        snap = self._snapshot()
        pcols = tuple(snap.metadata.get("partitionColumns", ()))
        if not pcols:
            raise ValueError(
                "dynamic partition overwrite requires a partitioned "
                "table; use overwrite() or overwrite_where()"
            )
        df = self._apply_column_defaults(df, snap)
        df = self._apply_generated(df, snap)
        df, hwm_updates = self._apply_identity(df, snap)
        evolved = self._enforce_or_evolve(df, snap, merge_schema=False)
        assert evolved is None  # merge_schema=False never evolves
        self._enforce_checks(df, snap)
        adds = self._write_files(df, pcols, snap=snap)
        new_parts = {
            tuple(sorted((a.get("partitionValues") or {}).items()))
            for a in adds
        }
        removes = [
            p
            for p, a in snap.files.items()
            if tuple(sorted((a.get("partitionValues") or {}).items()))
            in new_parts
        ]
        actions: list[dict] = []
        if hwm_updates:
            md = dict(snap.metadata)
            md["schemaString"] = self._schema_json_with_hwm(
                snap.metadata["schemaString"], hwm_updates
            )
            actions.append({"metaData": md})
        cdc_actions: list[dict] = []
        if self._cdf_enabled(snap):
            changes = df.withColumn("_change_type", F.lit("insert"))
            if removes:
                changes = (
                    self._read_snapshot_files(snap, removes)
                    .withColumn("_change_type", F.lit("delete"))
                    .unionByName(changes)
                )
            cdc_actions = self._write_cdc_files(changes, snap=snap)
        return self._commit_next(
            [
                *actions,
                *({"add": a} for a in adds),
                *({"remove": self._tombstone(p)} for p in removes),
                *({"cdc": c} for c in cdc_actions),
                dlog.commit_info(
                    "WRITE",
                    mode="Overwrite",
                    partitionOverwriteMode="dynamic",
                    replacedPartitions=len(new_parts),
                ),
            ],
            read_version=snap.version,
        )

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF — the undo operation:
        commit the file-level diff that returns the live set (and the
        schema) to the target snapshot. History is preserved — restore
        is a NEW commit, so the restored-over versions remain time-
        travelable, exactly like Delta's RESTORE. Fails before
        committing if any target file has been vacuumed (Delta's
        missing-files error), and carries the read snapshot so a
        concurrent data-changing commit surfaces as
        ConcurrentCommitError instead of being silently discarded."""
        cur = self._snapshot()
        tgt = self._snapshot(version)
        missing = [
            p
            for p in tgt.files
            if not os.path.exists(os.path.join(self.path, p))
        ]
        for p, a in tgt.files.items():
            dv = a.get("deletionVector")
            if dv and dv.get("storageType") == "u":
                enc = dv["pathOrInlineDv"]
                u = uuid.UUID(bytes=roaring.b85_decode(enc[-20:]))
                dv_path = os.path.join(
                    self.path, enc[:-20], f"deletion_vector_{u}.bin"
                )
                if not os.path.exists(dv_path):
                    missing.append(os.path.basename(dv_path))
        if missing:
            raise FileNotFoundError(
                f"cannot RESTORE to version {version}: "
                f"{len(missing)} data file(s) vacuumed, e.g. {missing[0]}"
            )
        actions: list[dict] = []
        md_keys = ("schemaString", "partitionColumns", "configuration")
        if any(
            tgt.metadata.get(k) != cur.metadata.get(k) for k in md_keys
        ):
            # restore covers the whole metadata: schema, partitioning,
            # AND table configuration (e.g. CHECK constraints)
            actions.append({"metaData": dict(tgt.metadata)})
        # Delta's RESTORE marks every re-surfaced add (and tombstone)
        # dataChange=true even when the file originally landed via an
        # OPTIMIZE (dataChange=false): to an incremental consumer the
        # restored rows ARE new data, and preserving the stored flag
        # would make read_changes()/the streaming source skip them.
        for p, a in tgt.files.items():
            if p not in cur.files:
                add = dict(a)
                add["dataChange"] = True
                actions.append({"add": add})
        actions.extend(
            {"remove": self._tombstone(p)} for p in cur.files if p not in tgt.files
        )
        actions.append(
            dlog.commit_info("RESTORE", restoredVersion=int(version))
        )
        return self._commit_next(actions, read_version=cur.version)

    def restore_to_timestamp(self, ts_millis: int) -> int:
        """RESTORE TABLE ... TO TIMESTAMP AS OF: resolve the newest
        version whose commit timestamp <= the given instant (the same
        resolution as read_as_of_timestamp, ICT-aware) and restore to
        it — the time axis of the same undo commit."""
        return self.restore(self.version_as_of_timestamp(ts_millis))

    def shallow_clone(
        self, dest_path: str, version: int | None = None
    ) -> "DeltaishTable":
        """CREATE TABLE ... SHALLOW CLONE [VERSION AS OF]: a new table
        whose version-0 log references the source snapshot's data
        files by ABSOLUTE path — zero bytes of data copied, so a
        100 TB table clones in one metadata commit (the dev/test/
        what-if snapshot pattern). Writes to the clone land under the
        clone's own root and never touch the source; the clone's
        VACUUM skips source-owned files (see vacuum). Partitioned
        sources are refused: partition values are directory-encoded
        relative to the SOURCE root and a single basePath cannot span
        both roots."""
        snap = self._snapshot(version)
        if snap.metadata.get("partitionColumns"):
            raise NotImplementedError(
                "shallow clone of a partitioned table: partition "
                "directories live under the source root; copy the "
                "data (deep clone) instead"
            )
        dest = os.path.abspath(dest_path)
        if dlog.list_versions(dest):
            raise ValueError(f"table already exists at {dest}")
        os.makedirs(dest, exist_ok=True)
        md = dict(snap.metadata)
        md["id"] = uuid.uuid4().hex
        actions: list[dict] = [
            # the clone inherits the source's protocol and metadata
            # domains — resetting them would drop writer-feature gates
            # (row tracking, ICT) while keeping the configuration that
            # depends on them
            {"protocol": dict(snap.protocol or self._BASE_PROTOCOL)},
            {"metaData": md},
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
        for p, a in snap.files.items():
            add = dict(a)
            add["path"] = os.path.abspath(os.path.join(self.path, p))
            actions.append({"add": add})
        actions.append(
            dlog.commit_info(
                "CLONE",
                source=os.path.abspath(self.path),
                sourceVersion=int(snap.version),
            )
        )
        dlog.write_commit(dest, 0, actions)
        dlog.write_version_checksum(
            dest, 0, {a["add"]["path"]: a["add"] for a in actions if "add" in a}
        )
        return DeltaishTable(self.spark, dest)

    def deep_clone(
        self, dest_path: str, version: int | None = None
    ) -> "DeltaishTable":
        """CREATE TABLE ... CLONE (deep): like shallow_clone but the
        snapshot's data files are COPIED under the clone root, so the
        clone survives the source's VACUUM and lives on independent
        storage. Stats and partition values carry over verbatim
        (byte-identical files). Works for partitioned sources too —
        relative paths preserve the Hive directory layout."""
        snap = self._snapshot(version)
        dest = os.path.abspath(dest_path)
        if dlog.list_versions(dest):
            raise ValueError(f"table already exists at {dest}")
        os.makedirs(dest, exist_ok=True)
        md = dict(snap.metadata)
        md["id"] = uuid.uuid4().hex
        actions: list[dict] = [
            {"protocol": dict(snap.protocol or self._BASE_PROTOCOL)},
            {"metaData": md},
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
        for p, a in snap.files.items():
            src = os.path.join(self.path, p)
            rel = (
                p
                if not os.path.isabs(p)
                else f"part-{uuid.uuid4().hex}.parquet"
            )
            dst = os.path.join(dest, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(src, dst)
            add = dict(a)
            add["path"] = rel
            actions.append({"add": add})
        actions.append(
            dlog.commit_info(
                "CLONE",
                source=os.path.abspath(self.path),
                sourceVersion=int(snap.version),
            )
        )
        dlog.write_commit(dest, 0, actions)
        dlog.write_version_checksum(
            dest, 0, {a["add"]["path"]: a["add"] for a in actions if "add" in a}
        )
        return DeltaishTable(self.spark, dest)

    # ------------------------------------------------- deletion vectors

    def dv_positions(self, dv: dict) -> list[int]:
        """Deleted row positions from a deletionVector descriptor.
        storageType 'u' (uuid-named file under the table, the default
        delta-spark layout), 'p' (absolute path), and 'i' (inline
        base85) are supported; every frame field (on-disk version
        byte, dataSize vs sizeInBytes, CRC-32, magic, bitmap framing)
        is validated so an unrecognized serialization refuses loudly
        instead of decoding wrong."""
        return roaring.read_descriptor(self.path, dv)

    def _dv_mask_actions(
        self, snap: dlog.Snapshot, matches: DataFrame, cands: list[str]
    ) -> tuple[list[dict] | None, int]:
        """The commit actions that mask freshly-dead row positions
        with deletion vectors. ``matches`` is the tagged DataFrame of
        rows to mask (``__fp`` file URI / ``__ri`` row index, from a
        ``keep_tags=True`` scan of the candidate files ``cands``).

        The bitmaps are built in ONE JVM aggregate grouped by (file,
        65,536-row chunk) over the new matches plus the candidate
        files' prior DV positions (the frame the scan of ``cands``
        already decoded). Each chunk comes back as a ready roaring
        container — its sorted low 16 bits up to 4096 values, else
        the 8 KiB bitmap of two ``bitmap_construct_agg`` buckets,
        whose byte layout is the bitmap container's — and
        ``roaring.frame_rbm_array`` frames them. The driver receives
        one container per chunk that holds a new match or a prior
        deleted position of a candidate file: O(DV bytes) of the
        touched and DV'd candidate files, never the (file, position)
        pairs (DECISIONS §56). A flag marks new rows: a candidate file
        none of whose chunks gained one keeps its DV unchanged, and
        its containers are dropped.

        Per touched file the commit carries a remove + re-add with the
        merged DV, or a pure remove when every row of the file is now
        dead. Returns (actions incl. any protocol upgrade, number of
        DVs written); actions is ``None`` when nothing matched (the
        caller's no-op signal)."""
        old_dvs = {
            rel: snap.files[rel]["deletionVector"]
            for rel in cands
            if snap.files[rel].get("deletionVector")
        }
        rows = matches.select("__fp", "__ri", F.lit(True).alias("__new"))
        if old_dvs:
            rows = rows.unionByName(
                self._dv_pos_df(old_dvs).select(
                    F.col("__dv_fp").alias("__fp"),
                    F.col("__dv_ri").alias("__ri"),
                    F.lit(False).alias("__new"),
                )
            )
        low = "(__ri & 65535)"

        def bucket(cmp):
            # one 32,768-bit half of the chunk's bitmap container
            return F.expr(
                f"bitmap_construct_agg(CASE WHEN {low} {cmp} 32768 "
                f"THEN bitmap_bit_position({low} + 1) END)"
            )

        card = F.expr("bitmap_count(__b0) + bitmap_count(__b1)")
        chunks = (
            rows.groupBy("__fp", F.shiftright("__ri", 16).alias("chunk"))
            .agg(
                F.max("__new").alias("new"),
                F.sort_array(F.collect_set(F.expr(low))).alias("lows"),
                bucket("<").alias("__b0"),
                bucket(">=").alias("__b1"),
            )
            .select(
                "__fp",
                "chunk",
                "new",
                card.alias("card"),
                F.when(card <= 4096, F.col("lows")).alias("lows"),
                F.when(card > 4096, F.concat("__b0", "__b1")).alias("bits"),
            )
            .collect()
        )
        by_file: dict[str, list[tuple[int, int, list[int] | bytes]]] = {}
        touched = set()
        for r in chunks:
            by_file.setdefault(r["__fp"], []).append(
                (
                    r["chunk"],
                    r["card"],
                    r["lows"] if r["bits"] is None else bytes(r["bits"]),
                )
            )
            if r["new"]:
                touched.add(r["__fp"])
        if not touched:
            return None, 0
        # one uuid-named DV file holding every touched file's bitmap
        # (the delta-spark layout: many DVs, one physical file per
        # commit)
        u = uuid.uuid4()
        buf = bytearray(b"\x01")
        descriptors: dict[str, dict] = {}
        full_removes: list[str] = []
        for rel, uri in sorted((self._uri_to_rel(fp), fp) for fp in touched):
            n_dead = sum(c[1] for c in by_file[uri])
            stats = snap.files[rel].get("stats")
            n_rec = (
                json.loads(stats).get("numRecords")
                if isinstance(stats, str)
                else (stats or {}).get("numRecords")
            ) if stats else None
            if n_rec is not None and n_dead >= n_rec:
                full_removes.append(rel)  # every row dead: drop file
                continue
            entry, size = roaring.frame_entry(
                roaring.frame_rbm_array(by_file[uri])
            )
            descriptors[rel] = {
                "storageType": "u",
                "pathOrInlineDv": roaring.b85_encode(u.bytes),
                "offset": len(buf),
                "sizeInBytes": size,
                "cardinality": n_dead,
            }
            buf += entry
        if descriptors:
            with open(
                os.path.join(self.path, f"deletion_vector_{u}.bin"), "wb"
            ) as f:
                f.write(bytes(buf))
        proto = self._protocol_for(snap.protocol, {"deletionVectors"})
        actions: list[dict] = [{"protocol": proto}] if proto else []
        for rel, dv in descriptors.items():
            new_add = dict(snap.files[rel])
            new_add["deletionVector"] = dv
            new_add["dataChange"] = True
            actions.append({"remove": self._tombstone(rel)})
            actions.append({"add": new_add})
        actions.extend(
            {"remove": self._tombstone(p)} for p in full_removes
        )
        return actions, len(descriptors)

    @staticmethod
    def _tombstone(path: str, data_change: bool = True) -> dict:
        return {
            "path": path,
            "deletionTimestamp": int(time.time() * 1000),
            "dataChange": data_change,
        }

    # ------------------------------------------------------------ reads

    def _local_df(self, rows: list[tuple], schema: str) -> DataFrame:
        """A small frame built on the driver, handed to Spark as Arrow.
        A list of tuples takes the pickled-RDD path instead: ~0.4 s per
        use on 4 cores, against ~0.04 s for the same rows as pandas
        (object columns, so large longs and NULLs survive as is)."""
        import pandas as pd

        names = [f.split()[0] for f in schema.split(",")]
        return self.spark.createDataFrame(
            pd.DataFrame(rows, columns=names, dtype=object), schema
        )

    def _dv_pos_df(self, dv_map: dict[str, dict]) -> DataFrame:
        """(file URI, row index) pairs deleted by the given
        deletionVector descriptors: the anti-join side of a DV-aware
        scan, and the prior positions a DV write unions in. The
        bitmaps are decoded ON THE DRIVER into one int64 array per
        file (``roaring.read_descriptors`` validates every frame field
        and the CRC, so a malformed or vacuumed DV refuses here,
        before any job) and reach Spark as one (file URI, positions)
        Arrow row per file, exploded in the JVM — no Python worker.
        The driver holds 8 bytes per deleted row of the files read,
        the size of the broadcast the scan builds from this frame
        (DECISIONS §56). The last frame is kept: a merge-on-read
        DELETE or UPDATE scans and unions the same descriptors, and
        decodes them once."""
        import numpy as np
        import pyarrow as pa

        key = tuple(
            sorted(
                (rel, dv["storageType"], dv["pathOrInlineDv"],
                 dv.get("offset"), dv["sizeInBytes"])
                for rel, dv in dv_map.items()
            )
        )
        if self._dv_frame is not None and self._dv_frame[0] == key:
            return self._dv_frame[1]
        rels = list(dv_map)
        positions = roaring.read_descriptors(
            self.path, [dv_map[r] for r in rels]
        )
        offsets = np.zeros(len(rels) + 1, np.int32)
        np.cumsum([len(p) for p in positions], out=offsets[1:])
        df = self.spark.createDataFrame(
            pa.table(
                {
                    "__dv_fp": [self._file_uri(r) for r in rels],
                    "__dv_ris": pa.ListArray.from_arrays(
                        offsets, np.concatenate(positions)
                    ),
                }
            )
        ).select("__dv_fp", F.explode("__dv_ris").alias("__dv_ri"))
        self._dv_frame = (key, df)
        return df

    def _read_snapshot_files(
        self,
        snap: dlog.Snapshot,
        rel_paths,
        dv_map: dict[str, dict] | None = None,
        keep_tags: bool = False,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Read files under the snapshot's DECLARED schema (not
        inference): files predating a schema evolution lack the new
        columns and read back as null, and partition-column values come
        from directory paths at their declared types. Under NAME-mode
        column mapping the files (and partition directories) carry
        PHYSICAL column names — read with the physical schema and
        rename back to logical.

        Deletion vectors: rows whose (file, row_index) pair appears in
        a referenced DV are anti-joined out. ``dv_map`` overrides the
        descriptors (path -> deletionVector) — the change-feed
        synthesizer passes the COMMIT's own DV state so historical
        inserts are not filtered by later deletes; by default the
        SNAPSHOT's descriptors apply. ``keep_tags`` preserves the
        ``__fp`` (file URI) / ``__ri`` (row index) columns for writers
        that need row positions (merge-on-read delete).

        ``with_row_ids`` (row-tracked tables) appends ``_row_id`` /
        ``_row_commit_version``: the MATERIALIZED per-row values when
        the file carries the hidden physical columns (rewritten
        files), else the fresh values baseRowId + row_index /
        defaultRowCommitVersion from the file's add action — the
        spec's resolution order."""
        schema = self._schema_for(snap)
        rt_cols = self._rt_materialized_cols(snap) if with_row_ids else None
        rel_paths = list(rel_paths)
        if not rel_paths:
            empty_schema = schema
            extra = []
            if keep_tags:
                extra += [
                    T.StructField("__fp", T.StringType()),
                    T.StructField("__ri", T.LongType()),
                ]
            if with_row_ids:
                extra += [
                    T.StructField("_row_id", T.LongType()),
                    T.StructField("_row_commit_version", T.LongType()),
                ]
            if extra:
                empty_schema = T.StructType(list(schema.fields) + extra)
            return self.spark.createDataFrame([], empty_schema)
        if dv_map is None:
            dv_map = {
                p: snap.files[p]["deletionVector"]
                for p in rel_paths
                if p in snap.files and snap.files[p].get("deletionVector")
            }
        mapping = self._column_mapping(snap)
        conf = snap.metadata.get("configuration", {}) or {}
        id_mode = conf.get("delta.columnMapping.mode", "none") == "id"
        ids = self._column_ids(snap) if id_mode else {}
        read_schema = (
            T.StructType(
                [
                    T.StructField(
                        mapping.get(f.name, f.name),
                        f.dataType,
                        f.nullable,
                        # ID mode: annotate the requested field with
                        # its parquet field id — Spark's reader then
                        # matches columns BY ID, the mode's contract
                        # (robust to physical-name drift across
                        # renames). Name mode matches by the physical
                        # name alone.
                        {"parquet.field.id": ids[f.name]}
                        if f.name in ids
                        else None,
                    )
                    for f in schema.fields
                ]
            )
            if mapping
            else schema
        )
        if id_mode:
            # runtime-settable; only affects schemas that carry
            # parquet.field.id metadata (exactly these reads). A file
            # lacking field ids then fails loudly (ignoreMissing
            # stays false) instead of resolving by possibly-renamed
            # names.
            self.spark.conf.set(
                "spark.sql.parquet.fieldId.read.enabled", "true"
            )
        if rt_cols:
            # the hidden materialized columns are PHYSICAL file
            # columns outside the logical schema; files that predate
            # materialization simply lack them and read null
            read_schema = T.StructType(
                list(read_schema.fields)
                + [
                    T.StructField(rt_cols[0], T.LongType(), True),
                    T.StructField(rt_cols[1], T.LongType(), True),
                ]
            )
        reader = self.spark.read.schema(read_schema)
        if snap.metadata.get("partitionColumns"):
            # basePath drives partition-dir inference; it also requires
            # every file to live under it, which shallow-clone adds
            # (absolute paths into the SOURCE table) do not — clones of
            # partitioned tables are refused at clone time
            reader = reader.option("basePath", self.path)
        df = reader.parquet(
            *[os.path.join(self.path, p) for p in rel_paths]
        )
        tag = bool(dv_map) or keep_tags or bool(rt_cols)
        if tag:
            # _metadata must be captured on the scan itself — joins
            # and projections downstream lose the hidden column
            df = df.withColumn(
                "__fp", F.col("_metadata.file_path")
            ).withColumn("__ri", F.col("_metadata.row_index"))
        if dv_map:
            df = df.join(
                F.broadcast(
                    self._dv_pos_df(dv_map).withColumnRenamed(
                        "__dv_fp", "__fp"
                    ).withColumnRenamed("__dv_ri", "__ri")
                ),
                ["__fp", "__ri"],
                "left_anti",
            )
        if rt_cols:
            base_map = []
            for p in rel_paths:
                a = snap.files.get(p)
                if a is None or "baseRowId" not in a:
                    raise ValueError(
                        f"row tracking: file {p} has no baseRowId; "
                        "the table was not backfilled"
                    )
                base_map.append(
                    (
                        self._file_uri(p),
                        a["baseRowId"],
                        a.get("defaultRowCommitVersion"),
                    )
                )
            df = df.join(
                F.broadcast(
                    self._local_df(
                        base_map, "__fp string, __base long, __dcv long"
                    )
                ),
                "__fp",
            )
        proj = [
            F.col(mapping.get(f.name, f.name)).alias(f.name)
            for f in schema.fields
        ]
        if keep_tags:
            proj += [F.col("__fp"), F.col("__ri")]
        if rt_cols:
            proj += [
                F.coalesce(
                    F.col(rt_cols[0]), F.col("__base") + F.col("__ri")
                ).alias("_row_id"),
                F.coalesce(F.col(rt_cols[1]), F.col("__dcv")).alias(
                    "_row_commit_version"
                ),
            ]
        return df.select(*proj)

    def _read_files(self, rel_paths: list[str]) -> DataFrame:
        return self._read_snapshot_files(self._snapshot(), rel_paths)

    def read(self, version: int | None = None) -> DataFrame:
        snap = self._snapshot(version)
        return self._read_snapshot_files(snap, snap.files)

    def version_as_of_timestamp(self, ts_millis: int) -> int:
        """TIMESTAMP AS OF resolution: the newest version whose commit
        wall-clock is <= the given epoch-milliseconds (Delta resolves
        timestamp time travel the same way). Raises if the timestamp
        predates the table."""
        best = -1
        for v in dlog.list_versions(self.path):
            t = 0
            for action in dlog.read_commit(self.path, v):
                if "commitInfo" in action:
                    t = self._ci_ts(action["commitInfo"])
            if t <= ts_millis:
                best = v
        if best < 0:
            raise ValueError(
                f"no commit at or before timestamp {ts_millis}"
            )
        return best

    def read_as_of_timestamp(self, ts_millis: int) -> DataFrame:
        return self.read(version=self.version_as_of_timestamp(ts_millis))

    def read_change_feed_between_timestamps(
        self, from_millis: int, to_millis: int | None = None
    ) -> DataFrame:
        """Delta's startingTimestamp/endingTimestamp CDF surface on
        the engine side: changes from the first commit AT OR AFTER
        ``from_millis`` through the last commit at or before
        ``to_millis`` (default: latest). Resolution mirrors Delta's —
        the timestamp range maps to a version range, then the
        version-range rules (cdc precedence, synthesis, pre-CDF
        refusal, expiry) apply unchanged."""
        versions = dlog.list_versions(self.path)
        if not versions:
            return self.read_change_feed(-1, -1)
        # first version whose commit ts >= from_millis, exclusive
        # lower bound for the (v_from, v_to] contract
        v_from = versions[-1]  # default: nothing qualifies
        for v in versions:
            t = 0
            for action in dlog.read_commit(self.path, v):
                if "commitInfo" in action:
                    t = self._ci_ts(action["commitInfo"])
            if t >= from_millis:
                v_from = v - 1
                break
        v_to = (
            versions[-1]
            if to_millis is None
            else self.version_as_of_timestamp(to_millis)
        )
        return self.read_change_feed(v_from, v_to)

    # ------------------------------------------------------------ skipping

    @staticmethod
    def _typed_partition_value(pv: str, dtype: T.DataType | None):
        """Parse a Hive partition-directory string at the column's
        DECLARED type (dates/timestamps have no usable constructor
        from str, so type(lo)(pv) is not an option)."""
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(pv)
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            return float(pv)
        if isinstance(dtype, T.DecimalType):
            return Decimal(pv)
        if isinstance(dtype, T.DateType):
            return date.fromisoformat(pv)
        if isinstance(dtype, T.TimestampType):
            return datetime.fromisoformat(pv.replace(" ", "T"))
        if isinstance(dtype, T.BooleanType):
            return pv.lower() == "true"
        return pv

    def files_matching(
        self, col: str, lo, hi, snap: dlog.Snapshot | None = None
    ) -> list[str]:
        """Stats-based file skipping: live files whose [min, max] for
        ``col`` (footer stats, or partition value) intersects
        [lo, hi] — the range ``lo <= col <= hi`` through the predicate
        evaluator (``_files_for_ir``). Files without stats are
        conservatively kept; a file whose ``col`` is all NULL (a NULL
        partition) matches no range."""
        if snap is None:
            snap = self._snapshot()
        return self._files_for_ir(self._range_ir(col, lo, hi), snap)

    @staticmethod
    def _range_ir(col: str, lo, hi):
        """The skipping IR of ``lo <= col <= hi``, built in Python (no
        py4j Column walk); Decimal bounds compare as floats, as
        ``_lit_value`` reads decimal literals."""
        lo, hi = (float(v) if isinstance(v, Decimal) else v for v in (lo, hi))
        return ("and", [("cmp", ">=", col, lo), ("cmp", "<=", col, hi)])

    def read_pruned(self, col: str, lo, hi) -> DataFrame:
        """Range scan that opens only stat-matching files, then applies
        the exact predicate — Delta data skipping's contract."""
        df = self._read_files(self.files_matching(col, lo, hi))
        return df.filter(F.col(col).between(lo, hi))

    # ---------------------------------------- predicate data skipping
    #
    # Generic stats-based candidate-file pruning for row-level writes
    # (Delta's DataSkippingReader, reduced to the sound core): the
    # DELETE/UPDATE condition is compiled to a conservative
    # "can this file possibly hold a TRUE row?" check over each add's
    # footer stats (min/max/nullCount) and partition values. Anything
    # the compiler does not understand degrades to "keep the file" —
    # pruning can only ever drop files that PROVABLY contain no
    # matching row, so the exact filter downstream stays authoritative.
    #
    # Two expression front-ends feed one IR, because conditions arrive
    # both as SQL strings (Catalyst parseExpression tree: And/EqualTo/
    # UnresolvedAttribute/Literal nodes) and as pyspark Columns
    # (ColumnNode tree: UnresolvedFunction("and"/"<="/...) nodes).

    # EqualNullSafe gets its OWN op ("eqns"): positively it skips like
    # '=' (a non-null literal never matches a NULL row), but its
    # negation NOT (col <=> v) is TRUE for NULL rows — unlike
    # NOT (col = v) — and parquet min/max stats ignore nulls, so the
    # plain 'ne' check would prune a file holding only v plus NULLs
    # even though its NULL rows match (ADVICE r5, high).
    _CATALYST_CMP = {
        "EqualTo": "=",
        "EqualNullSafe": "eqns",
        "LessThan": "<",
        "LessThanOrEqual": "<=",
        "GreaterThan": ">",
        "GreaterThanOrEqual": ">=",
    }
    _NODE_CMP = {
        "=": "=",
        "==": "=",
        "<=>": "eqns",
        "<": "<",
        "<=": "<=",
        ">": ">",
        ">=": ">=",
    }
    _FLIP = {"=": "=", "eqns": "eqns", "<": ">", "<=": ">=", ">": "<", ">=": "<="}
    _NEG = {"=": "ne", "eqns": "ne_ns", "<": ">=", "<=": ">", ">": "<=", ">=": "<"}

    @staticmethod
    def _lit_value(raw, dtype_str: str | None):
        """Canonical Python value for a Catalyst/ColumnNode literal.
        Catalyst internal encodings (date = epoch days, timestamp =
        epoch micros, UTF8String / BigDecimal java objects) unfold to
        date / datetime / str / float; unknown shapes raise and the
        caller keeps the file."""
        if dtype_str == "date" and isinstance(raw, int):
            return date.fromordinal(date(1970, 1, 1).toordinal() + raw)
        if dtype_str and dtype_str.startswith("timestamp") and isinstance(
            raw, int
        ):
            return datetime(1970, 1, 1) + timedelta(microseconds=raw)
        if isinstance(raw, (int, float, str, bool, date, datetime)):
            return raw
        # java-side object (UTF8String, BigDecimal, java.sql.Date,
        # java.sql.Timestamp...)
        s = str(raw)
        if dtype_str == "string":
            return s
        if dtype_str and dtype_str.startswith("decimal"):
            return float(s)
        # temporal-looking strings MUST parse to date/datetime: a raw
        # java.sql.Timestamp renders "2024-01-02 03:00:00.0" while
        # stats JSON renders isoformat "2024-01-02T03:00:00" — naive
        # string comparison of the two orders WRONG (' ' < 'T'), which
        # would falsely prune files. _cmp_pair normalizes both sides
        # once they are typed.
        t = DeltaishTable._parse_temporal(s)
        if t is not None:
            return t
        # last resort: numbers parse; any OTHER unrecognized object
        # rendering raises so the caller keeps the file — a temporal
        # string that missed the regex (Instant's 'Z', a non-UTC
        # offset) must not fall through to plain string comparison
        # against differently-formatted ISO stats, which could
        # falsely prune (ADVICE r5, low)
        try:
            return float(s) if "." in s else int(s)
        except ValueError:
            raise ValueError(
                f"unrecognized literal rendering: {s!r}"
            ) from None

    @staticmethod
    def _parse_temporal(s: str) -> date | datetime | None:
        """An ISO-style date ('2024-01-02') or timestamp
        ('2024-01-02 03:00:00[.f]', ' ' or 'T' separated) rendering as
        date / datetime; None for any other string. An out-of-range
        field raises ValueError."""
        m = re.fullmatch(
            r"(\d{4}-\d{2}-\d{2})[ T](\d{2}:\d{2}:\d{2})(\.\d+)?", s
        )
        if m:
            frac = (m.group(3) or "")[:7]
            return datetime.fromisoformat(
                f"{m.group(1)}T{m.group(2)}{frac}"
            )
        if re.fullmatch(r"\d{4}-\d{2}-\d{2}", s):
            return date.fromisoformat(s)
        return None

    def _typed_ir(self, ir, dtypes: dict):
        """``ir`` with each literal compared to a date or timestamp
        column typed as Spark casts it: on a timestamp column a string
        parses by ``_parse_temporal`` and a date is midnight; on a date
        column a string parses to its day. A string that does not
        parse keeps the file (the comparison becomes ("true",))."""
        kind = ir[0]
        if kind in ("and", "or"):
            return (kind, [self._typed_ir(c, dtypes) for c in ir[1]])
        if kind not in ("cmp", "ne", "ne_ns"):
            return ir
        dt, v = dtypes.get(ir[-2]), ir[-1]
        ts = isinstance(dt, (T.TimestampType, T.TimestampNTZType))
        if not (ts or isinstance(dt, T.DateType)):
            return ir
        if isinstance(v, str):
            try:
                v = self._parse_temporal(v)
            except ValueError:
                v = None
            if v is None:
                return ("true",)
            if not ts and isinstance(v, datetime):
                v = v.date()
        if ts and not isinstance(v, datetime) and isinstance(v, date):
            v = datetime.combine(v, datetime.min.time())
        return (*ir[:-1], v)

    def _ir_from_catalyst(self, ex):
        cls = ex.getClass().getSimpleName()

        def kids():
            ch = ex.children()
            return [ch.apply(i) for i in range(ch.size())]

        if cls == "And":
            return ("and", [self._ir_from_catalyst(c) for c in kids()])
        if cls == "Or":
            return ("or", [self._ir_from_catalyst(c) for c in kids()])
        if cls == "Not":
            return self._negate_ir(self._ir_from_catalyst(kids()[0]))
        if cls in ("IsNull", "IsNotNull"):
            c = kids()[0]
            if c.getClass().getSimpleName() != "UnresolvedAttribute":
                return ("true",)
            name = c.name().split(".")[-1]
            return ("isnull" if cls == "IsNull" else "isnotnull", name)
        if cls == "In":
            ks = kids()
            if ks[0].getClass().getSimpleName() != "UnresolvedAttribute":
                return ("true",)
            name = ks[0].name().split(".")[-1]
            vals = []
            for lit in ks[1:]:
                if lit.getClass().getSimpleName() != "Literal":
                    return ("true",)
                vals.append(
                    self._lit_value(
                        lit.value(), lit.dataType().simpleString()
                    )
                )
            return ("or", [("cmp", "=", name, v) for v in vals])
        if cls in self._CATALYST_CMP:
            op = self._CATALYST_CMP[cls]
            l, r = kids()
            lc, rc = (
                l.getClass().getSimpleName(),
                r.getClass().getSimpleName(),
            )
            if lc == "Literal" and rc == "UnresolvedAttribute":
                l, r, lc, rc = r, l, rc, lc
                op = self._FLIP[op]
            if lc != "UnresolvedAttribute" or rc != "Literal":
                return ("true",)
            v = self._lit_value(r.value(), r.dataType().simpleString())
            if v is None:
                return ("true",)
            return ("cmp", op, l.name().split(".")[-1], v)
        return ("true",)

    def _ir_from_node(self, n):
        cls = n.getClass().getSimpleName()
        if cls != "UnresolvedFunction":
            return ("true",)
        fn = n.functionName()
        args = n.arguments()
        kids = [args.apply(i) for i in range(args.size())]

        def _attr(a):
            if a.getClass().getSimpleName() != "UnresolvedAttribute":
                return None
            parts = a.nameParts()
            return parts.apply(parts.size() - 1)

        def _lit(a):
            if a.getClass().getSimpleName() != "Literal":
                return None
            return self._lit_value(a.value(), None)

        if fn == "and":
            return ("and", [self._ir_from_node(k) for k in kids])
        if fn == "or":
            return ("or", [self._ir_from_node(k) for k in kids])
        if fn in ("not", "!"):
            return self._negate_ir(self._ir_from_node(kids[0]))
        if fn in ("isNull", "isnull") and len(kids) == 1:
            name = _attr(kids[0])
            return ("isnull", name) if name else ("true",)
        if fn in ("isNotNull", "isnotnull") and len(kids) == 1:
            name = _attr(kids[0])
            return ("isnotnull", name) if name else ("true",)
        if fn == "in":
            name = _attr(kids[0])
            if name is None:
                return ("true",)
            vals = [_lit(k) for k in kids[1:]]
            if any(v is None for v in vals):
                return ("true",)
            return ("or", [("cmp", "=", name, v) for v in vals])
        if fn in self._NODE_CMP:
            op = self._NODE_CMP[fn]
            l, r = kids
            name, v = _attr(l), _lit(r)
            if name is None and v is None:
                return ("true",)
            if name is None:
                name, v, op = _attr(r), _lit(l), self._FLIP[op]
            if name is None or v is None:
                return ("true",)
            return ("cmp", op, name, v)
        return ("true",)

    def _negate_ir(self, ir):
        kind = ir[0]
        if kind == "and":
            return ("or", [self._negate_ir(c) for c in ir[1]])
        if kind == "or":
            return ("and", [self._negate_ir(c) for c in ir[1]])
        if kind == "isnull":
            return ("isnotnull", ir[1])
        if kind == "isnotnull":
            return ("isnull", ir[1])
        if kind == "cmp":
            # NOT over SQL three-valued comparisons never turns a NULL
            # row TRUE, so the min/max flip stays sound — EXCEPT
            # null-safe equality, whose negation IS true for NULL rows
            # and therefore needs the nullCount-aware 'ne_ns' check
            _, op, col, v = ir
            neg = self._NEG[op]
            if neg in ("ne", "ne_ns"):
                return (neg, col, v)
            return ("cmp", neg, col, v)
        if kind == "ne":  # NOT(col != v) is TRUE only where col = v
            return ("cmp", "=", ir[1], ir[2])
        if kind == "ne_ns":  # NOT(NOT(col <=> v)) = col <=> v
            return ("cmp", "eqns", ir[1], ir[2])
        return ("true",)

    def _ir_columns(self, ir) -> set[str]:
        """Column names a skipping IR references (OPTIMIZE WHERE's
        partition-predicate check)."""
        kind = ir[0]
        if kind in ("and", "or"):
            out: set[str] = set()
            for c in ir[1]:
                out |= self._ir_columns(c)
            return out
        if kind in ("isnull", "isnotnull"):
            return {ir[1]}
        if kind in ("cmp",):
            return {ir[2]}
        if kind in ("ne", "ne_ns"):
            return {ir[1]}
        return set()

    def _ir_degraded(self, ir) -> bool:
        """True when any sub-expression degraded to ('true',) during
        IR compilation. OPTIMIZE WHERE rejects such predicates
        outright: a vanished conjunct could reference a data column,
        silently widening the compaction scope past the documented
        partition-only rule (ADVICE r5, low)."""
        kind = ir[0]
        if kind == "true":
            return True
        if kind in ("and", "or"):
            return any(self._ir_degraded(c) for c in ir[1])
        return False

    @staticmethod
    def _cmp_pair(stat, lit):
        """(stat, lit) coerced to a comparable pair, or TypeError.
        Stats JSON carries dates/timestamps as ISO strings — ISO
        orders like the values, so temporal literals compare as
        isoformat text."""
        if isinstance(lit, datetime):
            if isinstance(stat, str):
                # a date column's stat is a date: midnight, as Spark
                # casts it to compare with a timestamp
                s = stat.replace("T", " ") + (
                    " 00:00:00" if len(stat) == 10 else ""
                )
                if s.endswith("+00:00"):  # tz-aware stats, UTC session
                    s = s[:-6]
                return s, lit.isoformat(sep=" ")
            raise TypeError
        if isinstance(lit, date):
            if isinstance(stat, str):
                return stat[:10], lit.isoformat()
            raise TypeError
        if isinstance(lit, bool) or isinstance(stat, bool):
            if isinstance(stat, bool) and isinstance(lit, bool):
                return stat, lit
            raise TypeError
        if isinstance(stat, (int, float)) and isinstance(lit, (int, float)):
            return stat, lit
        if isinstance(stat, str) and isinstance(lit, str):
            return stat, lit
        raise TypeError

    @staticmethod
    def _all_null(st) -> bool:
        """(min, max, nullCount, numRecords) of a column whose every row
        is NULL."""
        return st is not None and st[2] is not None and st[2] == st[3]

    def _ir_can_match(self, ir, bounds: dict) -> bool:
        kind = ir[0]
        if kind == "true":
            return True
        if kind == "and":
            return all(self._ir_can_match(c, bounds) for c in ir[1])
        if kind == "or":
            return any(self._ir_can_match(c, bounds) for c in ir[1])
        if kind == "isnull":
            st = bounds.get(ir[1])
            if st is None or st[2] is None:
                return True
            return st[2] > 0
        if kind == "isnotnull":
            st = bounds.get(ir[1])
            if st is None or st[2] is None or st[3] is None:
                return True
            return st[2] < st[3]
        if kind == "ne":
            st = bounds.get(ir[1])
            if self._all_null(st):
                return False  # NULL != v is never TRUE
            if st is None or st[0] is None or st[1] is None:
                return True
            try:
                mn, v = self._cmp_pair(st[0], ir[2])
                mx, _ = self._cmp_pair(st[1], ir[2])
            except TypeError:
                return True
            return not (mn == mx == v)
        if kind == "ne_ns":
            # NOT (col <=> v): TRUE for NULL rows too, and min/max
            # stats ignore nulls — prune only when the file provably
            # holds nothing but v AND zero nulls
            st = bounds.get(ir[1])
            if (
                st is None
                or st[0] is None
                or st[1] is None
                or st[2] is None
            ):
                return True
            try:
                mn, v = self._cmp_pair(st[0], ir[2])
                mx, _ = self._cmp_pair(st[1], ir[2])
            except TypeError:
                return True
            return not (mn == mx == v and st[2] == 0)
        _, op, col, v = ir
        st = bounds.get(col)
        if self._all_null(st):
            return False  # a comparison with NULL is never TRUE
        if st is None or st[0] is None or st[1] is None:
            return True
        try:
            mn, vv = self._cmp_pair(st[0], v)
            mx, _ = self._cmp_pair(st[1], v)
        except TypeError:
            return True
        if op in ("=", "eqns"):
            # null-safe equality against a non-null literal matches
            # exactly where '=' does, so positive skipping is shared
            return mn <= vv <= mx
        if op == "<":
            return mn < vv
        if op == "<=":
            return mn <= vv
        if op == ">":
            return mx > vv
        return mx >= vv  # ">="

    def files_matching_predicate(
        self, condition, snap: dlog.Snapshot | None = None
    ) -> list[str]:
        """Live files that could hold a row satisfying ``condition``
        (SQL string or pyspark Column). Conservative: any part of the
        predicate (or any file's stats) the compiler cannot reason
        about keeps the file. DELETE/UPDATE use this to bound their
        find-touched scan to the candidate files instead of the whole
        table — the stats live in the transaction log, so pruning a
        100 TB table costs zero data IO."""
        if snap is None:
            snap = self._snapshot()
        return self._files_for_ir(self._predicate_ir(condition), snap)

    def _predicate_ir(self, condition):
        """Compile ``condition`` (SQL string or Column) to the skipping
        IR; a shape the compiler cannot read becomes ("true",)."""
        try:
            if isinstance(condition, str):
                parser = (
                    self.spark._jsparkSession.sessionState().sqlParser()
                )
                return self._ir_from_catalyst(
                    parser.parseExpression(condition)
                )
            return self._ir_from_node(condition._jc.node())
        except Exception:  # noqa: BLE001 - unsupported shape: keep all
            return ("true",)

    def _files_for_ir(self, ir, snap: dlog.Snapshot) -> list[str]:
        """The one skipping evaluator: live files whose log stats and
        partition values could satisfy ``ir``. Per column it evaluates
        (min, max, nullCount, numRecords); a NULL partition value is an
        all-NULL column, a missing one is unknown (kept). Decimal stats
        (stored as strings) and partition values compare as floats;
        date and timestamp literals are first typed by their column
        (``_typed_ir``)."""
        if ir == ("true",):
            return list(snap.files)
        pcols = set(snap.metadata.get("partitionColumns", ()))
        dtypes = {
            f.name: f.dataType for f in self._schema_for(snap).fields
        }
        pmap = self._column_mapping(snap)
        decimals = {
            c for c, t in dtypes.items() if isinstance(t, T.DecimalType)
        }
        ir = self._typed_ir(ir, dtypes)
        out = []
        for path, add in snap.files.items():
            stats = add.get("stats")
            s = (
                json.loads(stats)
                if isinstance(stats, str)
                else (stats or {})
            )
            mns = s.get("minValues", {}) or {}
            mxs = s.get("maxValues", {}) or {}
            ncs = s.get("nullCount", {}) or {}
            nrec = s.get("numRecords")
            if nrec == 0:
                continue  # zero rows match no row predicate
            pv = add.get("partitionValues", {}) or {}
            bounds: dict[str, tuple] = {}
            for c, dtype in dtypes.items():
                phys = pmap.get(c, c)
                if c in pcols:
                    if phys not in pv:
                        continue
                    raw = pv[phys]
                    if raw is None:
                        # every row is NULL, however many there are
                        bounds[c] = (None, None, nrec or 1, nrec or 1)
                        continue
                    try:
                        v = self._typed_partition_value(raw, dtype)
                    except (TypeError, ValueError):
                        v = raw
                    if isinstance(v, datetime):
                        v = v.isoformat(sep=" ")
                    elif isinstance(v, date):
                        v = v.isoformat()
                    elif isinstance(v, Decimal):
                        v = float(v)
                    bounds[c] = (v, v, 0, nrec)
                else:
                    mn, mx = mns.get(phys), mxs.get(phys)
                    if c in decimals:
                        try:
                            mn, mx = (
                                None if x is None else float(x)
                                for x in (mn, mx)
                            )
                        except (TypeError, ValueError):
                            mn = mx = None  # unreadable: keep the file
                    bounds[c] = (mn, mx, ncs.get(phys), nrec)
            if self._ir_can_match(ir, bounds):
                out.append(path)
        return out

    def _source_key_stats(self, source: DataFrame, keys: list[str]):
        """The MERGE source's duplicate-key check and key range, from one
        aggregate over its per-key counts: the largest multiplicity
        (a multi-match is an error in Delta MERGE too) and every key's
        ``__lo_<k>`` / ``__hi_<k>`` (a key's bounds equal those of the
        distinct-key set; NULL for an empty source). The offending-key
        query runs only on the duplicate path."""
        stats = (
            source.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(
                F.max("__c").alias("__maxc"),
                *[
                    f
                    for k in keys
                    for f in (
                        F.min(k).alias(f"__lo_{k}"),
                        F.max(k).alias(f"__hi_{k}"),
                    )
                ],
            )
            .collect()[0]
        )
        if stats["__maxc"] is not None and stats["__maxc"] > 1:
            dup = (
                source.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") > 1)
                .limit(1)
                .collect()
            )
            raise ValueError(f"source has duplicate merge keys: {dup[0]}")
        return stats

    def _files_for_key_bounds(
        self, keys: list[str], bounds, snap: dlog.Snapshot
    ) -> list[str]:
        """MERGE candidate files: AND of every key's source [min, max]
        range, evaluated by the skipping evaluator (a key whose source
        bound is NULL contributes no clause — conservative)."""
        ranges = [
            self._range_ir(k, bounds[f"__lo_{k}"], bounds[f"__hi_{k}"])
            for k in keys
            if bounds[f"__lo_{k}"] is not None
            and bounds[f"__hi_{k}"] is not None
        ]
        if not ranges:
            return list(snap.files)
        return self._files_for_ir(("and", ranges), snap)

    # ------------------------------------------------------------ merge

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        matched_update: dict | None = None,
        matched_condition=None,
        insert: bool = True,
    ) -> int:
        """MERGE with Delta's clause semantics. Default
        (``matched_update=None, insert=True``) is upsert —
        whenMatchedUpdateAll + whenNotMatchedInsertAll, the
        populate_dim.py:153-163 shape. ``matched_update`` switches to
        whenMatchedUpdate SET: a dict of target column -> Column
        expression, applied only where ``matched_condition`` (which
        may reference ``t.<col>`` / ``s.<col>``) also holds — the
        reference's SCD-2 expire merge. ``insert=False`` drops the
        not-matched clause.

        ONLY files whose key-range statistics intersect the source's
        key range are rewritten; every other file is untouched. At
        100 TB this file pruning is what makes MERGE affordable — a
        merge touching one day of a date-partitioned table rewrites
        one partition, not the table.

        Source must be unique per key (checked — multi-match is an
        error in Delta MERGE too)."""
        bounds = self._source_key_stats(source, keys)
        snap = self._snapshot()
        if self._identity_meta(snap):
            raise NotImplementedError(
                "MERGE into a table with identity columns: inserted "
                "rows would need engine-assigned ids inside the merge "
                "rewrite (delta-spark restricted this combination for "
                "the same reason). Append new rows instead."
            )
        if bounds[f"__lo_{keys[0]}"] is None:
            return snap.version  # empty source: no-op
        touched = self._files_for_key_bounds(keys, bounds, snap)
        rt = self._rt_enabled(snap)
        target = self._read_snapshot_files(
            snap, touched, with_row_ids=rt
        )
        cdf = self._cdf_enabled(snap)
        changes: DataFrame | None = None
        tkeys = target.select(*keys).distinct()
        skeys = source.select(*keys).distinct()
        if rt:
            # matched source rows INHERIT the target row's id (update
            # preserves identity); unmatched rows insert with null ->
            # fresh ids. Commit version of every rewritten-by-source
            # row nulls to this merge's default. Source keys are
            # unique (checked above); if the TARGET carries duplicate
            # keys, the upsert's collapse-to-one-source-row shape
            # would silently discard all but min(_row_id) — violating
            # the uniqueness/preservation invariant row tracking
            # guarantees — so that combination refuses (delta-spark's
            # multiple-match MERGE error is the analogous guard).
            multi = (
                target.join(skeys, list(keys), "left_semi")
                .groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") > 1)
                .limit(1)
                .collect()
            )
            if multi:
                raise ValueError(
                    "MERGE under row tracking: a source row matches "
                    f"multiple target rows (key {multi[0]}); the "
                    "inherited row id would not be unique. "
                    "Deduplicate the target first."
                )
            tids = target.groupBy(*keys).agg(
                F.min("_row_id").alias("__tid")
            )
            source_rt = (
                source.join(tids, list(keys), "left")
                .withColumn("_row_id", F.col("__tid"))
                .withColumn(
                    "_row_commit_version", F.lit(None).cast("long")
                )
                .drop("__tid")
            )
        else:
            source_rt = source
        if matched_update is None:
            kept = target.join(skeys, list(keys), "left_anti")
            if insert:
                incoming = source_rt.select(*target.columns)
            else:
                incoming = source_rt.join(
                    tkeys, list(keys), "left_semi"
                ).select(*target.columns)
            result = kept.unionByName(incoming)
            matched_desc = "updateAll"
            if cdf:
                pre = target.join(skeys, list(keys), "left_semi")
                post = source_rt.join(
                    tkeys, list(keys), "left_semi"
                ).select(*target.columns)
                changes = pre.withColumn(
                    "_change_type", F.lit("update_preimage")
                ).unionByName(
                    post.withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                )
                if insert:
                    ins = source_rt.join(
                        tkeys, list(keys), "left_anti"
                    ).select(*target.columns)
                    changes = changes.unionByName(
                        ins.withColumn("_change_type", F.lit("insert"))
                    )
        else:
            if rt:
                matched_update = dict(matched_update)
                matched_update["_row_commit_version"] = F.lit(None).cast(
                    "long"
                )
            t = target.alias("t")
            s = source.withColumn("__matched", F.lit(True)).alias("s")
            joined = t.join(s, list(keys), "left")
            cond = F.col("__matched").isNotNull()
            if matched_condition is not None:
                cond = cond & matched_condition
            proj = []
            for c in target.columns:
                if c in matched_update:
                    proj.append(
                        F.when(cond, matched_update[c])
                        .otherwise(F.col(f"t.{c}"))
                        .alias(c)
                    )
                elif c in keys:
                    proj.append(F.col(c))
                else:
                    proj.append(F.col(f"t.{c}").alias(c))
            result = joined.select(*proj)
            if insert:
                result = result.unionByName(
                    source_rt.join(
                        tkeys, list(keys), "left_anti"
                    ).select(*target.columns)
                )
            matched_desc = (
                "updateSet("
                f"{sorted(c for c in matched_update if not c.startswith('_row_'))})"
            )
            if cdf:
                changed = joined.filter(cond)
                pre = changed.select(
                    *[
                        F.col(c) if c in keys else F.col(f"t.{c}").alias(c)
                        for c in target.columns
                    ]
                )
                post = changed.select(
                    *[
                        matched_update[c].alias(c)
                        if c in matched_update
                        else (
                            F.col(c)
                            if c in keys
                            else F.col(f"t.{c}").alias(c)
                        )
                        for c in target.columns
                    ]
                )
                changes = pre.withColumn(
                    "_change_type", F.lit("update_preimage")
                ).unionByName(
                    post.withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                )
                if insert:
                    ins = source_rt.join(
                        tkeys, list(keys), "left_anti"
                    ).select(*target.columns)
                    changes = changes.unionByName(
                        ins.withColumn("_change_type", F.lit("insert"))
                    )
        # generated columns: the merge result carries every column, so
        # this is pure validation — a source that supplied a diverging
        # generated value fails before any file is written
        result = self._apply_generated(result, snap)
        self._enforce_checks(result, snap)
        return self._commit_rewrite(
            snap,
            result,
            touched,
            changes,
            dlog.commit_info(
                "MERGE",
                matchedPredicates=matched_desc,
                notMatchedPredicates="insertAll" if insert else "none",
            ),
        )

    def merge_into(
        self,
        source: DataFrame,
        keys: list[str],
        when_matched=(),
        when_not_matched=(),
        when_not_matched_by_source=(),
        schema_evolution: bool = False,
    ) -> int:
        """MERGE with Delta's FULL clause matrix (delta-spark's
        whenMatchedUpdate/Delete, whenNotMatchedInsert,
        whenNotMatchedBySourceUpdate/Delete — the surface
        ``merge()`` above covers only the upsert corner of).

        Each clause is a dict with an ``action`` and an optional
        ``condition`` (Column or SQL string over ``t.<col>`` /
        ``s.<col>``); clauses apply in order, first match wins, and
        only the LAST clause of each group may omit its condition
        (Delta's rule). Rows matching no clause pass through
        unchanged (target side) or are not inserted (source side).

        - ``when_matched``: ``{"action": "update_all"}``,
          ``{"action": "update", "set": {col: expr}}``, or
          ``{"action": "delete"}``.
        - ``when_not_matched``: ``{"action": "insert_all"}`` or
          ``{"action": "insert", "values": {col: expr}}`` —
          unspecified columns become NULL, as in Delta.
        - ``when_not_matched_by_source``: ``{"action": "update",
          "set": ...}`` or ``{"action": "delete"}`` — conditions here
          may reference only ``t.<col>`` (no source row exists).

        File selection is the 100 TB story: without bySource clauses,
        candidate files are pruned to the source's key range (as
        ``merge()`` does); WITH bySource clauses every target row is
        in scope so all live files are candidates — but in both modes
        only files that OWN an actually-modified row are rewritten
        (located by one tagged scan, like DELETE), so a mirror-sync
        merge whose target is already converged rewrites nothing.

        Under ``delta.enableChangeDataFeed`` every clause attributes
        its rows: update clauses emit pre/postimages, deletes emit
        ``delete`` rows, inserts ``insert`` rows. The commitInfo
        carries ``operationMetrics`` numTargetRowsUpdated / Deleted /
        Inserted, counted by the same job that pins the labelled join
        (a named ``observe``, read back from its query execution; the
        ``Observation`` class would install a session listener that
        re-analyzes and logs every later failing query).

        ``schema_evolution=True`` is delta-spark's MERGE ... WITH
        SCHEMA EVOLUTION: source columns absent from the target are
        ADDED to the table schema in the same commit (metaData action
        beside the adds), updateAll/insertAll assign only the columns
        the source actually carries (target-only columns stay
        unchanged on update, NULL on insert — autoMerge's SET *
        expansion), and pre-merge files read the new columns as NULL.
        Column-mapped tables refuse (new fields would need minted
        physical names inside the merge commit — the append evolution
        path owns that machinery)."""

        def _norm(clauses, allowed, group):
            out = []
            clauses = list(clauses)
            for i, c in enumerate(clauses):
                c = dict(c)
                if c.get("action") not in allowed:
                    raise ValueError(
                        f"{group} action must be one of {sorted(allowed)},"
                        f" got {c.get('action')!r}"
                    )
                cond = c.get("condition")
                if isinstance(cond, str):
                    cond = F.expr(cond)
                if cond is None and i != len(clauses) - 1:
                    raise ValueError(
                        f"only the last {group} clause may omit its "
                        "condition (Delta's rule — earlier clauses "
                        "would shadow it)"
                    )
                c["condition"] = cond
                for field in ("set", "values"):
                    if c.get(field):
                        c[field] = {
                            k: (F.expr(v) if isinstance(v, str) else v)
                            for k, v in c[field].items()
                        }
                out.append(c)
            return out

        wm = _norm(
            when_matched, {"update_all", "update", "delete"}, "whenMatched"
        )
        wnm = _norm(
            when_not_matched, {"insert_all", "insert"}, "whenNotMatched"
        )
        wnmbs = _norm(
            when_not_matched_by_source,
            {"update", "delete"},
            "whenNotMatchedBySource",
        )
        if not (wm or wnm or wnmbs):
            raise ValueError("MERGE requires at least one clause")
        for k in keys:
            if k not in source.columns:
                raise ValueError(f"merge key {k!r} missing from source")
        snap = self._snapshot()
        schema = self._schema_for(snap)
        data_cols = [f.name for f in schema.fields]
        orig_cols = set(data_cols)
        src_col_set = set(source.columns)
        dtypes = {f.name: f.dataType for f in schema.fields}
        evolved_md_action = None
        if schema_evolution:
            # Spark/Delta resolve names case-insensitively by default
            # (spark.sql.caseSensitive=false): a source column differing
            # only in case is the SAME column, not a new field. Rename it
            # to the target's casing instead of evolving the schema.
            lower_to_target = {c.lower(): c for c in orig_cols}
            for f in list(source.schema.fields):
                tgt = lower_to_target.get(f.name.lower())
                if tgt is not None and tgt != f.name:
                    source = source.withColumnRenamed(f.name, tgt)
            src_col_set = set(source.columns)
            extras = [
                f
                for f in source.schema.fields
                if f.name.lower() not in lower_to_target
            ]
            if extras and self._column_mapping(snap):
                raise NotImplementedError(
                    "MERGE WITH SCHEMA EVOLUTION on a column-mapped "
                    "table: the new fields would need minted physical "
                    "names/ids inside the merge commit. Evolve via "
                    "append(merge_schema=True) first."
                )
            if extras:
                evolved = T.StructType(
                    [
                        *schema.fields,
                        *[
                            T.StructField(f.name, f.dataType, True)
                            for f in extras
                        ],
                    ]
                )
                md = dict(snap.metadata)
                md["schemaString"] = evolved.json()
                evolved_md_action = {"metaData": md}
                data_cols = data_cols + [f.name for f in extras]
                dtypes.update({f.name: f.dataType for f in extras})
        if any(c["action"] == "update_all" for c in wm) or any(
            c["action"] == "insert_all" for c in wnm
        ):
            missing = [c for c in data_cols if c not in source.columns]
            # under schema evolution SET * expands to the SOURCE's
            # columns (autoMerge): target-only columns are allowed to
            # be absent — unchanged on update, NULL on insert
            if missing and not schema_evolution:
                raise ValueError(
                    f"updateAll/insertAll need source columns {missing}"
                )
        if self._identity_meta(snap):
            raise NotImplementedError(
                "MERGE into a table with identity columns: inserted "
                "rows would need engine-assigned ids inside the merge "
                "rewrite (delta-spark restricted this combination for "
                "the same reason). Append new rows instead."
            )
        bounds = self._source_key_stats(source, keys)
        cdf = self._cdf_enabled(snap)

        if wnmbs:
            # whenNotMatchedBySource inspects EVERY target row
            cand = list(snap.files)
        elif bounds[f"__lo_{keys[0]}"] is None:
            return snap.version  # empty source: no clause can fire
        else:
            cand = self._files_for_key_bounds(keys, bounds, snap)

        rt = self._rt_enabled(snap)
        target = self._read_snapshot_files(
            snap, cand, keep_tags=True, with_row_ids=rt
        )
        tj = target.alias("t")
        sj = source.withColumn("__merge_s", F.lit(True)).alias("s")
        on = None
        for k in keys:
            e = F.col(f"t.{k}") == F.col(f"s.{k}")
            on = e if on is None else (on & e)
        j = tj.join(sj, on, "full_outer")
        t_exists = F.col("t.__fp").isNotNull()
        s_exists = F.col("s.__merge_s").isNotNull()

        def _cond(c):
            if c["condition"] is None:
                return F.lit(True)
            return F.coalesce(
                c["condition"].cast("boolean"), F.lit(False)
            )

        labeled = []
        for i, c in enumerate(wm):
            labeled.append((f"m{i}", t_exists & s_exists, c))
        for i, c in enumerate(wnmbs):
            labeled.append((f"b{i}", t_exists & ~s_exists, c))
        for i, c in enumerate(wnm):
            labeled.append((f"i{i}", ~t_exists & s_exists, c))
        act = F.when(labeled[0][1] & _cond(labeled[0][2]), labeled[0][0])
        for lbl, gate, c in labeled[1:]:
            act = act.when(gate & _cond(c), lbl)
        act = act.otherwise(
            F.when(t_exists, F.lit("__keep")).otherwise(F.lit("__drop"))
        )
        j = j.withColumn("__act", act)

        del_labels = [l for l, _, c in labeled if c["action"] == "delete"]
        upd_labels = [
            l
            for l, _, c in labeled
            if c["action"] in ("update", "update_all")
        ]
        ins_labels = [
            l
            for l, _, c in labeled
            if c["action"] in ("insert", "insert_all")
        ]
        mod_labels = del_labels + upd_labels

        def _count(labels):
            return F.count_if(
                F.col("__act").isin(labels) if labels else F.lit(False)
            )

        def _desc(clauses):
            return (
                ";".join(
                    c["action"]
                    + ("?" if c["condition"] is not None else "")
                    for c in clauses
                )
                or "none"
            )

        def _t_col(c):
            # a column minted by THIS merge's schema evolution has no
            # target side yet: pre-merge rows carry NULL
            if c in orig_cols:
                return F.col(f"t.{c}")
            return F.lit(None).cast(dtypes[c])

        def _new_image(c):
            e = _t_col(c)
            for lbl, _, cl in labeled:
                a = cl["action"]
                if a == "update_all":
                    if c not in src_col_set:
                        continue  # SET * touches source columns only
                    v = F.col(f"s.{c}")
                elif a == "insert_all":
                    v = (
                        F.col(f"s.{c}")
                        if c in src_col_set
                        else F.lit(None).cast(dtypes[c])
                    )
                elif a == "update":
                    if c not in cl["set"]:
                        continue
                    v = cl["set"][c]
                elif a == "insert":
                    v = cl.get("values", {}).get(c)
                    if v is None:
                        v = F.lit(None).cast(dtypes[c])
                else:  # delete: row never reaches the new image
                    continue
                e = F.when(F.col("__act") == lbl, v).otherwise(e)
            return e.alias(c)

        # each image is built once and shared by the data and CDF
        # frames: every Column costs py4j round trips
        t_image = [_t_col(c).alias(c) for c in data_cols]
        new_image = [_new_image(c) for c in data_cols]

        # pin the labeled join ONCE: the rewrite/CDF scan re-evaluates
        # j otherwise, and a merge condition over nondeterministic input
        # (rand(), current timestamp, a re-read view) could desync the
        # touched-file set from the rewritten rows — the same divergence
        # delete() pins. The pinning job also observes which files own a
        # modified row (bounded by the file count) and the rows per
        # action, so no stats collect runs after it.
        observed = j.observe(
            "merge_stats",
            F.collect_set(
                F.when(F.col("__act").isin(mod_labels), F.col("t.__fp"))
                if mod_labels
                else F.lit(None).cast(T.StringType())
            ).alias("fps"),
            _count(upd_labels).alias("updated"),
            _count(del_labels).alias("deleted"),
            _count(ins_labels).alias("inserted"),
        )
        with self._pinned(observed) as j:
            m = json.loads(
                observed._jdf.queryExecution()
                .observedMetrics()
                .get("merge_stats")
                .get()
                .json()
            )
            hit_uris = sorted(m["fps"])
            if not hit_uris and m["inserted"] == 0:
                return snap.version  # converged: nothing to rewrite
            touched = [self._uri_to_rel(u) for u in hit_uris]
            in_hit = (
                F.col("t.__fp").isin(hit_uris) if hit_uris else F.lit(False)
            )
            keep_pred = (
                t_exists
                & in_hit
                & ~F.col("__act").isin([*del_labels, "__drop"])
            )
            rt_proj = []
            if rt:
                # surviving target rows carry their id; update-labelled
                # rows null their commit version (modified this commit);
                # insert rows are source-side (t null) -> fresh ids
                rt_proj = [
                    F.col("t._row_id").alias("_row_id"),
                    F.when(
                        F.col("__act").isin(upd_labels)
                        if upd_labels
                        else F.lit(False),
                        F.lit(None).cast("long"),
                    )
                    .otherwise(F.col("t._row_commit_version"))
                    .alias("_row_commit_version"),
                ]
            result = j.filter(
                keep_pred | F.col("__act").isin(ins_labels)
            ).select(*new_image, *rt_proj)

            changes = None
            if cdf:
                parts = []
                if upd_labels:
                    u = j.filter(F.col("__act").isin(upd_labels))
                    parts.append(
                        u.select(*t_image).withColumn(
                            "_change_type", F.lit("update_preimage")
                        )
                    )
                    parts.append(
                        u.select(*new_image).withColumn(
                            "_change_type", F.lit("update_postimage")
                        )
                    )
                if del_labels:
                    parts.append(
                        j.filter(F.col("__act").isin(del_labels))
                        .select(*t_image)
                        .withColumn("_change_type", F.lit("delete"))
                    )
                if ins_labels:
                    parts.append(
                        j.filter(F.col("__act").isin(ins_labels))
                        .select(*new_image)
                        .withColumn("_change_type", F.lit("insert"))
                    )
                for p in parts:
                    changes = p if changes is None else changes.unionByName(p)

            result = self._apply_generated(result, snap)
            self._enforce_checks(result, snap)
            return self._commit_rewrite(
                snap,
                result,
                touched,
                changes,
                dlog.commit_info(
                    "MERGE",
                    operation_metrics={
                        "numTargetRowsUpdated": m["updated"],
                        "numTargetRowsDeleted": m["deleted"],
                        "numTargetRowsInserted": m["inserted"],
                    },
                    matchedPredicates=_desc(wm),
                    notMatchedPredicates=_desc(wnm),
                    notMatchedBySourcePredicates=_desc(wnmbs),
                ),
                [evolved_md_action] if evolved_md_action else (),
            )

    @contextmanager
    def _pinned(self, df: DataFrame):
        """``df.localCheckpoint(eager=True)`` for the body of a
        ``with``. The cached blocks are dropped on exit: an eager local
        checkpoint otherwise stays in the block manager for the life of
        the session."""
        pinned = df.localCheckpoint(eager=True)
        rdd_id = pinned._jdf.queryExecution().logical().rdd().id()
        try:
            yield pinned
        finally:
            # SparkContext's own unpersist: RDD.unpersist would warn that
            # a locally checkpointed RDD cannot be recomputed
            self.spark.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)

    # ASCII that java.net.URI escapes in a path (non-ASCII it keeps)
    _URI_UNSAFE = re.compile(r"[^A-Za-z0-9/\-_.!~*'();:@&=+$,\x80-\U0010ffff]")

    def _file_uri(self, rel: str) -> str:
        """A data file's ``_metadata.file_path`` as Spark renders it:
        the single-slash Hadoop form ("file:/abs/path"), percent-encoded
        like java.net.URI — so a Hive directory's own '%XX' escapes
        appear as '%25XX'."""
        p = os.path.abspath(os.path.join(self.path, rel))
        return "file:" + self._URI_UNSAFE.sub(lambda m: quote(m[0]), p)

    def _uri_to_rel(self, uri: str) -> str:
        p = unquote(uri[len("file:"):] if uri.startswith("file:") else uri)
        return os.path.relpath(
            os.path.abspath(p), os.path.abspath(self.path)
        )

    def delete(self, condition, mode: str = "copy_on_write") -> int:
        """DELETE FROM ... WHERE — row-level delete, Delta's
        semantics: rows where ``condition`` IS TRUE go (NULL keeps
        the row, like SQL DELETE); only files OWNING a matching row
        are touched, located by one distributed tagged scan.

        ``mode="copy_on_write"`` rewrites the touched files minus
        their matching rows (a file whose rows all match becomes a
        pure remove) — a delete touching one day of a date-
        partitioned 100 TB table rewrites that day's files, not the
        table.

        ``mode="merge_on_read"`` writes DELETION VECTORS instead
        (protocol readerFeature deletionVectors, upgraded on first
        use): the touched files are re-added unchanged with a roaring
        bitmap of their deleted row positions, so deleting 0.1% of a
        100 TB table writes kilobytes of bitmap, zero data bytes —
        reads anti-join the positions out, and OPTIMIZE/purge()
        materializes them later. The bitmaps are built in one JVM
        aggregate per (file, 65,536-row chunk); the driver collects at
        most one roaring container per touched chunk (O(DV bytes),
        never the matched (file, position) pairs — see
        _dv_mask_actions).

        Under ``delta.enableChangeDataFeed`` the deleted rows are
        recorded as cdc ``delete`` actions in both modes — without
        them a rewriting/DV delete cannot be attributed per-row, and
        the feed readers refuse such commits (same rule as MERGE)."""
        return self._modify_rows("DELETE", condition, None, mode)

    def update(
        self, condition, set_map: dict, mode: str = "copy_on_write"
    ) -> int:
        """UPDATE ... SET ... WHERE — row-level update, Delta's
        semantics: rows where ``condition`` IS TRUE get the
        ``set_map`` assignments (column -> Column expression or SQL
        string over the row's current values); only files owning a
        matching row are touched.

        ``mode="copy_on_write"`` rewrites the touched files with the
        assignments applied. ``mode="merge_on_read"`` instead writes
        DELETION VECTORS over the old row positions and appends ONLY
        the updated rows as new files — updating 0.1% of a 100 TB
        table writes that 0.1% plus kilobytes of bitmap, not the
        touched files (Delta's DV-backed UPDATE).

        GENERATED ALWAYS AS columns are recomputed from the updated
        row (assigning one directly is refused, as is an IDENTITY
        column); CHECK constraints run on the rewritten rows. Under
        delta.enableChangeDataFeed the matched rows are recorded as
        update_preimage/update_postimage cdc pairs, and the feed
        readers refuse a pre-CDF UPDATE (same attribution rule as
        MERGE/DELETE)."""
        return self._modify_rows("UPDATE", condition, set_map, mode)

    def _modify_rows(
        self, op: str, condition, set_map: dict | None, mode: str
    ) -> int:
        """The one row-level engine behind delete() and update(); a
        DELETE is the case with no post-image (``set_map`` None)."""
        if mode not in ("copy_on_write", "merge_on_read"):
            raise ValueError(f"unknown {op.lower()} mode {mode!r}")
        snap = self._snapshot()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        is_match = F.coalesce(cond.cast("boolean"), F.lit(False))
        gen = self._generated_exprs(snap)
        exprs = None
        if set_map is not None:
            idents = self._identity_meta(snap)
            for c in set_map:
                if c in gen:
                    raise ValueError(
                        f"column {c!r} is GENERATED ALWAYS AS "
                        f"({gen[c]}); it is recomputed, not assigned"
                    )
                if c in idents:
                    raise ValueError(
                        f"column {c!r} is GENERATED ALWAYS AS IDENTITY; "
                        "explicit values are not accepted"
                    )
            exprs = {
                c: (F.expr(e) if isinstance(e, str) else e)
                for c, e in set_map.items()
            }
        # data skipping: the find-touched scan reads only files whose
        # stats could hold a matching row (conservative; the exact
        # is_match filter below stays authoritative)
        cands = self.files_matching_predicate(condition, snap=snap)
        if not cands:
            return snap.version
        rt = self._rt_enabled(snap)
        cdf = self._cdf_enabled(snap)
        set_cols = {} if set_map is None else {"setColumns": sorted(set_map)}

        def post_image(df, m=None):
            # SET applied where ``m`` (every row when None), generated
            # columns recomputed from the UPDATED values (deterministic
            # exprs: unmatched rows recompute to their current values);
            # row ids survive, a modified row's commit version nulls to
            # its new file's defaultRowCommitVersion (this commit)
            def pick(new, c):
                return new if m is None else F.when(m, new).otherwise(F.col(c))

            out = df.select(
                *[
                    pick(exprs[c], c).alias(c) if c in exprs else F.col(c)
                    for c in df.columns
                ]
            )
            if gen:
                out = out.select(
                    *[
                        F.expr(gen[c]).alias(c) if c in gen else F.col(c)
                        for c in out.columns
                    ]
                )
            if rt:
                out = out.withColumn(
                    "_row_commit_version",
                    pick(F.lit(None).cast("long"), "_row_commit_version"),
                )
            return out

        def change_rows(pre, post):
            if post is None:
                return pre.withColumn("_change_type", F.lit("delete"))
            return pre.withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(
                post.withColumn("_change_type", F.lit("update_postimage"))
            )

        if mode == "merge_on_read":
            tagged = self._read_snapshot_files(
                snap,
                cands,
                keep_tags=True,
                with_row_ids=rt and exprs is not None,
            )
            # one materialized row set for every consumer (DV build,
            # CHECK constraints, post-image and CDC writes) — without the
            # checkpoint a nondeterministic condition (rand(),
            # current_timestamp) could mask rows in the DV that differ
            # from the ones written or recorded. A DELETE
            # without the change feed has one consumer, the DV build's
            # single aggregate, and needs no pin.
            pin = (
                self._pinned
                if exprs is not None or cdf
                else nullcontext
            )
            with pin(tagged.filter(is_match)) as matches:
                pre = matches.drop("__fp", "__ri")
                post = None
                if exprs is not None:
                    post = post_image(pre)
                    # CHECK constraints run before any DV file is written
                    self._enforce_checks(post, snap)
                actions, n_dvs = self._dv_mask_actions(snap, matches, cands)
                if actions is None:
                    return snap.version  # no-op
                # the old positions are bitmap-masked; an UPDATE's rows
                # land as NEW files — data written ∝ rows updated
                return self._commit_rewrite(
                    snap,
                    post,
                    [],
                    change_rows(pre, post) if cdf else None,
                    dlog.commit_info(
                        op,
                        mode="merge-on-read",
                        numDeletionVectors=n_dvs,
                        **set_cols,
                    ),
                    extra=actions,
                )

        touched = self._touched(snap, cands, is_match)
        if not touched:
            return snap.version  # nothing matches: no-op, no commit
        target = self._read_snapshot_files(snap, touched, with_row_ids=rt)
        if exprs is None:
            # survivors carry their row id AND commit version into the
            # rewritten file (delete modifies neither). No pre-flight
            # count: _write_files skips zero-row part files, so an
            # all-rows-deleted rewrite yields no add through the same
            # write job
            result, post = target.filter(~is_match), None
        else:
            # matched-ness is decided on the OLD values and carried as a
            # marker — a SET that changes a condition column must not
            # change which rows count as updated (postimages)
            updated = post_image(
                target.withColumn("__m", is_match), F.col("__m")
            )
            result = updated.drop("__m")
            self._enforce_checks(result, snap)
            post = updated.filter(F.col("__m")).drop("__m")
        return self._commit_rewrite(
            snap,
            result,
            touched,
            change_rows(target.filter(is_match), post) if cdf else None,
            dlog.commit_info(op, numTouchedFiles=len(touched), **set_cols),
        )

    def _touched(
        self, snap: dlog.Snapshot, cands: list[str], is_match: Column
    ) -> list[str]:
        """The candidate files that own a row where ``is_match`` holds,
        found by one tagged scan that collects only distinct file
        URIs."""
        if not cands:
            return []
        tagged = self._read_snapshot_files(snap, cands, keep_tags=True)
        return sorted(
            {
                self._uri_to_rel(r["__fp"])
                for r in tagged.filter(is_match)
                .select("__fp")
                .distinct()
                .collect()
            }
        )

    def _commit_rewrite(
        self,
        snap: dlog.Snapshot,
        result: DataFrame | None,
        removed: list[str],
        changes: DataFrame | None,
        commit_info: dict,
        extra=(),
    ) -> int:
        """The one tail of every row-level write (DELETE, UPDATE, MERGE,
        replaceWhere): ``result`` is written as new data files (row ids
        carried into the materialized columns), ``changes`` as the
        commit's cdc files, and both are committed after ``extra`` with
        one remove per ``removed`` path. The commit is checked against
        the snapshot the write read: a data commit since then
        conflicts."""
        pcols = tuple(snap.metadata.get("partitionColumns", ()))
        adds = (
            []
            if result is None
            else self._write_files(
                self._rt_to_physical(result, snap), pcols, snap=snap
            )
        )
        cdcs = (
            []
            if changes is None
            else self._write_cdc_files(
                changes.drop("_row_id", "_row_commit_version"), snap=snap
            )
        )
        return self._commit_next(
            [
                *extra,
                *({"add": a} for a in adds),
                *({"remove": self._tombstone(p)} for p in removed),
                *({"cdc": c} for c in cdcs),
                commit_info,
            ],
            read_version=snap.version,
        )

    def purge(self) -> int:
        """REORG TABLE ... APPLY (PURGE): materialize every deletion
        vector by rewriting its file WITHOUT the deleted rows,
        committed with dataChange=false on both sides — the logical
        content is unchanged (DV'd rows were already logically gone),
        so streams and the change feed skip it, exactly like
        OPTIMIZE. Run it to reclaim the scan-side anti-join cost once
        DVs accumulate (bin-pack OPTIMIZE leaves DV'd files to it)."""
        snap = self._snapshot()
        dv_paths = [
            p for p, a in snap.files.items() if a.get("deletionVector")
        ]
        return self._rewrite(
            snap,
            [(dv_paths, lambda df: df)] if dv_paths else [],
            dlog.commit_info(
                "REORG", applyPurge=True, numPurgedFiles=len(dv_paths)
            ),
        )

    # ------------------------------------------------------------ maintenance

    def _rewrite(
        self,
        snap: dlog.Snapshot,
        groups: list[tuple[list[str], Callable[[DataFrame], DataFrame]]],
        commit: dict,
        clustering_provider: str | None = None,
    ) -> int:
        """The one rewrite behind OPTIMIZE, Z-ORDER and PURGE. The files
        of each ``(paths, shape)`` group are read through the snapshot —
        deletion vectors applied, names and field ids resolved by the
        column mapping, row ids carried (positions shift in the new
        files, so the ids materialize) — reshaped by ``shape``, and
        written through ``_write_files`` like any other write. Every
        input file gets a remove. Both sides carry dataChange=false:
        the logical content is unchanged, so streams and the change
        feed skip the commit. Nothing to rewrite commits nothing and
        returns the snapshot's version."""
        if not groups:
            return snap.version
        pcols = tuple(snap.metadata.get("partitionColumns", ()))
        rt = self._rt_enabled(snap)
        actions: list[dict] = []
        for paths, shape in groups:
            df = shape(self._read_snapshot_files(snap, paths, with_row_ids=rt))
            for a in self._write_files(
                self._rt_to_physical(df, snap), pcols, snap=snap
            ):
                a["dataChange"] = False
                if clustering_provider:
                    a["clusteringProvider"] = clustering_provider
                actions.append({"add": a})
            actions.extend(
                {"remove": self._tombstone(p, data_change=False)}
                for p in paths
            )
        actions.append(commit)
        return self._commit_next(actions, read_version=snap.version)

    @staticmethod
    def _partition_groups(
        snap: dlog.Snapshot, paths
    ) -> dict[tuple, list[str]]:
        """``paths`` grouped by their partition values (one group, key
        ``()``, on an unpartitioned table)."""
        groups: dict[tuple, list[str]] = {}
        for p in paths:
            pv = snap.files[p].get("partitionValues") or {}
            groups.setdefault(tuple(sorted(pv.items())), []).append(p)
        return groups

    def optimize(
        self, target_bytes: int = 128 * 1024 * 1024, where=None
    ) -> int:
        """Bin-pack small files per partition (dataChange=false, as the
        spec requires for pure compaction — streams reading the table
        skip these commits). Inputs are read under the snapshot's
        declared schema so files predating a schema evolution keep
        the evolved column (as nulls) instead of dropping it; under
        column mapping names and field ids resolve through the
        snapshot and the rewrite is physicalized like any write
        (``_rewrite``). Files carrying a deletion vector are left to
        purge().

        ``where`` scopes compaction to matching partitions (Delta's
        ``OPTIMIZE tbl WHERE``): like delta-spark, only PARTITION
        predicates are accepted — a data-column predicate could split
        a file's rows across the boundary, which a pure file-level
        rewrite cannot honor. Scheduled maintenance of a 100 TB table
        compacts yesterday's partition, not the table.

        On a liquid-clustered table (CLUSTER BY declared) OPTIMIZE
        *is* the clustering rewrite instead of a bin-pack."""
        snap = self._snapshot()
        in_scope = None
        if where is not None:
            pcols_set = set(snap.metadata.get("partitionColumns", ()))
            if snap.domains.get(self.CLUSTERING_DOMAIN):
                raise ValueError(
                    "OPTIMIZE WHERE on a clustered table: liquid "
                    "clustering replaces partitioning; run optimize() "
                    "unscoped"
                )
            ir = self._typed_ir(
                self._predicate_ir(where),
                {f.name: f.dataType for f in self._schema_for(snap).fields},
            )
            bad = self._ir_columns(ir) - pcols_set
            # any sub-expression that degraded to ('true',) vanishes
            # from the column set — 'p = 1 AND lower(c) = "a"' (or a
            # date literal that does not parse) must be rejected like
            # a fully-unsupported predicate, not silently compact all
            # of p=1
            if bad or self._ir_degraded(ir):
                raise ValueError(
                    "OPTIMIZE WHERE accepts only partition-column "
                    f"predicates; {sorted(bad) or where!r} is not "
                    "(delta-spark's rule: a data predicate could "
                    "split a file across the boundary)"
                )
            in_scope = set(self._files_for_ir(ir, snap))
        if snap.domains.get(self.CLUSTERING_DOMAIN):
            ccols = self._clustering_logical(snap)
            if ccols:
                # incremental trigger: only files that have never been
                # clustered (new writes since the last OPTIMIZE) make
                # it run; an already-converged table is a NO-OP, so
                # scheduled maintenance is O(new data), not O(table).
                # (The rewrite itself re-clusters the whole table for
                # globally-narrow file ranges — delta's liquid rewrites
                # per-node incrementally, a refinement documented out
                # of scope.)
                unclustered = [
                    p
                    for p, a in snap.files.items()
                    if a.get("clusteringProvider") != "liquid"
                ]
                if not unclustered:
                    return snap.version
                total = sum(
                    a.get("size", 0) for a in snap.files.values()
                )
                n_files = max(1, math.ceil(total / target_bytes))
                return self.zorder_by(
                    ccols,
                    n_files=n_files,
                    clustering_provider="liquid",
                )
        groups = self._partition_groups(
            snap,
            [
                p
                for p, a in snap.files.items()
                if (in_scope is None or p in in_scope)
                and not a.get("deletionVector")
            ],
        )
        jobs = []
        for paths in groups.values():
            size = sum(snap.files[p].get("size", 0) for p in paths)
            n_out = max(1, math.ceil(size / target_bytes))
            if n_out < len(paths):
                jobs.append((paths, lambda df, n=n_out: df.coalesce(n)))
        return self._rewrite(snap, jobs, dlog.commit_info("OPTIMIZE"))

    def _stats_indexed_set(
        self,
        snap: dlog.Snapshot | None,
        df: DataFrame,
        mapping: dict[str, str] | None,
    ) -> set[str] | None:
        """Physical column names eligible for per-column file stats
        under ``delta.dataSkippingNumIndexedCols`` — the FIRST N
        schema columns, Delta's rule that bounds stats width on wide
        tables (default 32; -1 = every column). Returns None when no
        truncation applies so the common narrow-table path costs
        nothing. A predicate on a column past the indexed prefix
        finds no min/max/nullCount in the add stats and the skipper
        conservatively keeps the file — soundness needs no reader
        change."""
        conf = {}
        if snap is not None:
            conf = (snap.metadata or {}).get("configuration", {}) or {}
        raw = conf.get("delta.dataSkippingNumIndexedCols")
        n = 32 if raw is None else int(raw)
        if n < 0:
            return None
        logical = (
            [f.name for f in self._schema_for(snap).fields]
            if snap is not None and snap.metadata
            else list(df.columns)
        )
        if len(logical) <= n:
            return None
        m = mapping or {}
        return {m.get(c, c) for c in logical[:n]}

    @staticmethod
    def _interleave_bits(cols: list[Column], bits: int) -> Column:
        """Morton/Z-value: interleave the low ``bits`` of each
        (non-negative integral) column — pure expressions, whole-stage
        codegen'd."""
        z = F.lit(0).cast("long")
        n = len(cols)
        for b in range(bits):
            for i, c in enumerate(cols):
                bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
        return z

    def _clustered(
        self, df: DataFrame, zcols, n_files: int, bits: int, pcols=()
    ) -> DataFrame:
        """``df`` range-partitioned into ``n_files`` on the Morton curve
        of ``zcols``, each normalized to [0, 2^bits): min/max scaling
        for numerics (dates and timestamps on their epoch value),
        hashing for strings (no locality to keep). Each partition is
        sorted by (``pcols``, z) — the partition columns lead, so a
        partitioned write needs no sort of its own."""
        dtypes = dict(df.dtypes)
        numeric = [c for c in zcols if dtypes[c] != "string"]

        def key(c):
            if dtypes[c] == "date":
                return F.unix_date(F.col(c))
            if dtypes[c].startswith("timestamp"):
                return F.unix_micros(F.col(c).cast("timestamp"))
            return F.col(c)

        bounds = (
            df.agg(
                *[
                    f(key(c)).alias(f"{n}_{c}")
                    for c in numeric
                    for n, f in (("mn", F.min), ("mx", F.max))
                ]
            ).first()
            if numeric
            else None
        )
        normed = []
        for c in zcols:
            if dtypes[c] == "string":
                normed.append(F.pmod(F.xxhash64(c), F.lit(2**bits)))
            else:
                lo, hi = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
                if lo is None:  # the group holds no non-null value
                    lo, hi = 0, 0
                span = float(hi - lo) or 1.0
                normed.append(
                    F.least(
                        F.lit(2**bits - 1),
                        F.floor(
                            (key(c) - F.lit(lo)) / F.lit(span) * (2**bits - 1)
                        ),
                    ).cast("long")
                )
        return (
            df.withColumn("_z", self._interleave_bits(normed, bits))
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions(*pcols, "_z")
            .drop("_z")
        )

    # ------------------------------------------------ liquid clustering

    CLUSTERING_DOMAIN = "delta.clustering"

    def _clustering_logical(self, snap: dlog.Snapshot) -> list[str]:
        """The CLUSTER BY columns as LOGICAL names. The
        ``delta.clustering`` domain stores PHYSICAL names (delta-spark
        does the same — physical names are stable under RENAME COLUMN,
        so the domain never goes stale); resolve them back through the
        column mapping for callers that operate on the logical
        schema."""
        dm = snap.domains.get(self.CLUSTERING_DOMAIN)
        if not dm:
            return []
        phys = [
            path[0] for path in json.loads(dm).get("clusteringColumns", [])
        ]
        inv = {p: l for l, p in self._column_mapping(snap).items()}
        return [inv.get(p, p) for p in phys]

    def clustering_columns(self) -> list[str]:
        """The table's CLUSTER BY columns (logical names), from the
        delta.clustering metadata domain (empty when not a clustered
        table)."""
        return self._clustering_logical(self._snapshot())

    def cluster_by(self, cols: list[str] | None) -> int:
        """ALTER TABLE ... CLUSTER BY (cols) — liquid clustering's
        declaration half: the clustering key lives in the
        ``delta.clustering`` metadata domain (one domainMetadata
        commit; no data moves until the next OPTIMIZE, which then
        clusters on these columns instead of bin-packing).
        ``cols=None`` or ``[]`` is CLUSTER BY NONE — the domain is
        tombstoned. Delta's rules enforced: at most 4 columns, only
        existing ones, and never on a hive-partitioned table (liquid
        REPLACES directory partitioning)."""
        snap = self._snapshot()
        cols = list(cols or [])
        if len(cols) > 4:
            raise ValueError(
                f"CLUSTER BY supports at most 4 columns, got {len(cols)}"
            )
        if snap.metadata.get("partitionColumns"):
            raise ValueError(
                "CLUSTER BY on a hive-partitioned table: liquid "
                "clustering replaces directory partitioning; create "
                "the table unpartitioned"
            )
        names = {f.name for f in self._schema_for(snap).fields}
        missing = [c for c in cols if c not in names]
        if missing:
            raise ValueError(f"no such clustering column(s): {missing}")
        # the domain stores PHYSICAL names (stable under RENAME
        # COLUMN; delta-spark's convention — see _clustering_logical)
        pmap = self._column_mapping(snap)
        cfg = json.dumps(
            {"clusteringColumns": [[pmap.get(c, c)] for c in cols]}
        )
        return self._alter(
            snap,
            "CLUSTER BY",
            {"clusteringColumns": cols},
            features={"clustering", "domainMetadata"} if cols else (),
            actions=[
                self._domain_action(
                    self.CLUSTERING_DOMAIN, cfg if cols else None
                )
            ],
        )

    def zorder_by(
        self,
        zcols: list[str],
        n_files: int = 8,
        bits: int = 8,
        clustering_provider: str | None = None,
    ) -> int:
        """Z-ORDER clustering via the Morton-curve rewrite
        (``_clustered``): range-partitioned on the z-value so every
        file's min/max stays narrow on EVERY zcol — making
        files_matching selective on all of them. On a partitioned
        table, clustering runs WITHIN each partition (Delta's
        semantics — zcols must not include partition columns) with
        per-partition normalization bounds and at most one file per
        input file. Deleted rows stay deleted: the rewrite reads
        through the deletion vectors and drops them.

        ``clustering_provider`` is set when OPTIMIZE routes here for a
        liquid-clustered table: the rewritten adds carry the spec's
        ``clusteringProvider`` marker and commitInfo records
        clusterBy instead of zOrderBy."""
        snap = self._snapshot()
        pcols = tuple(snap.metadata.get("partitionColumns", ()))
        if set(zcols) & set(pcols):
            raise ValueError("zorder columns cannot be partition columns")
        jobs = []
        for paths in self._partition_groups(snap, snap.files).values():
            n = max(1, min(n_files, len(paths))) if pcols else n_files
            jobs.append(
                (
                    paths,
                    lambda df, n=n: self._clustered(df, zcols, n, bits, pcols),
                )
            )
        return self._rewrite(
            snap,
            jobs,
            dlog.commit_info("OPTIMIZE", clusterBy=zcols)
            if clustering_provider
            else dlog.commit_info("OPTIMIZE", zOrderBy=zcols),
            clustering_provider,
        )

    # ------------------------------------------------- column defaults

    COLUMN_DEFAULT = "CURRENT_DEFAULT"  # spec field-metadata key

    def _column_defaults(self, snap: dlog.Snapshot) -> dict[str, str]:
        out = {}
        for f in json.loads(snap.metadata["schemaString"])["fields"]:
            md = f.get("metadata", {}) or {}
            if self.COLUMN_DEFAULT in md:
                out[f["name"]] = md[self.COLUMN_DEFAULT]
        return out

    def _apply_column_defaults(
        self, df: DataFrame, snap: dlog.Snapshot
    ) -> DataFrame:
        """Fill columns ABSENT from the written frame that carry a
        CURRENT_DEFAULT — the allowColumnDefaults contract. A column
        the writer DID provide is never touched (explicit NULL stays
        NULL, like SQL DEFAULT)."""
        defaults = self._column_defaults(snap)
        if not defaults:
            return df
        dtypes = {
            f.name: f.dataType for f in self._schema_for(snap).fields
        }
        have = set(df.columns)
        for name, expr in defaults.items():
            if name not in have:
                df = df.withColumn(
                    name, F.expr(expr).cast(dtypes[name])
                )
        return df

    def set_column_default(self, col: str, sql_expr: str) -> int:
        """ALTER TABLE ... ALTER COLUMN ... SET DEFAULT — the spec's
        ``allowColumnDefaults`` writer feature: the expression lands
        in the field's CURRENT_DEFAULT metadata and subsequent
        appends that OMIT the column get it evaluated per write
        (constant-foldable expressions only — a default may not read
        other columns, delta's rule). Rows written before the default
        keep reading NULL: defaults are write-time, never a backfill,
        which is why Delta refuses ADD COLUMN ... DEFAULT and so do
        we (evolve the column first, then set its default).

        The protocol side is table-features-ONLY (no legacy writer
        version implies it): the commit upgrades to writer v7 with
        ``allowColumnDefaults`` listed, so an external writer that
        does not implement defaults refuses instead of inserting
        NULLs where the default belongs."""
        snap = self._snapshot()
        dtypes = {
            f.name: f.dataType for f in self._schema_for(snap).fields
        }
        if col not in dtypes:
            raise ValueError(f"no such column {col!r}")
        if col in self._identity_meta(snap):
            raise ValueError(
                f"{col!r} is an identity column; its values are "
                "engine-assigned"
            )
        if any(
            f["name"] == col
            and "delta.generationExpression" in (f.get("metadata") or {})
            for f in json.loads(snap.metadata["schemaString"])["fields"]
        ):
            raise ValueError(
                f"{col!r} is a generated column; its values come from "
                "its generation expression"
            )
        # constant-foldable check: the default must evaluate with NO
        # input columns in scope (and must cast to the column's type)
        try:
            self.spark.range(1).select(
                F.expr(sql_expr).cast(dtypes[col])
            ).collect()
        except Exception as e:  # noqa: BLE001
            raise ValueError(
                f"default for {col!r} must be a constant-foldable "
                f"expression castable to {dtypes[col].simpleString()}: "
                f"{sql_expr!r} ({e})"
            ) from None
        schema = json.loads(snap.metadata["schemaString"])
        for f in schema["fields"]:
            if f["name"] == col:
                md = dict(f.get("metadata", {}) or {})
                md[self.COLUMN_DEFAULT] = sql_expr
                f["metadata"] = md
        return self._alter(
            snap,
            "ALTER COLUMN",
            {"column": col, "setDefault": sql_expr},
            meta={"schemaString": json.dumps(schema, separators=(",", ":"))},
            features={"allowColumnDefaults"},
        )

    def drop_column_default(self, col: str) -> int:
        """ALTER COLUMN ... DROP DEFAULT: removes CURRENT_DEFAULT;
        the writer feature stays listed (spec features are one-way)."""
        snap = self._snapshot()
        schema = json.loads(snap.metadata["schemaString"])
        found = False
        for f in schema["fields"]:
            if f["name"] == col and self.COLUMN_DEFAULT in (
                f.get("metadata") or {}
            ):
                md = dict(f["metadata"])
                del md[self.COLUMN_DEFAULT]
                f["metadata"] = md
                found = True
        if not found:
            raise ValueError(f"column {col!r} has no default")
        return self._alter(
            snap,
            "ALTER COLUMN",
            {"column": col, "dropDefault": True},
            meta={"schemaString": json.dumps(schema, separators=(",", ":"))},
        )

    def fsck(self, dry_run: bool = False) -> list[str]:
        """FSCK REPAIR TABLE: drop add entries whose data files are
        physically GONE from storage (someone rm'ed them, a restore
        from partial backup, an eager external cleaner) — the repair
        that turns "every read throws FileNotFound" back into a
        working table that is honest about the surviving rows.
        Returns the removed (or, with ``dry_run``, the would-be
        removed) relative paths; the repair is one remove-only commit,
        so history still shows what was lost and when. A file whose
        DELETION VECTOR is missing but whose data file survives is
        NOT repaired here — dropping the DV would resurrect deleted
        rows; that file keeps failing loudly at scan-validate time."""
        snap = self._snapshot()
        missing = sorted(
            p
            for p in snap.files
            if not os.path.exists(os.path.join(self.path, p))
            and not os.path.isabs(p)
            and "://" not in p
        )
        if dry_run or not missing:
            return missing
        self._commit_next(
            [
                *({"remove": self._tombstone(p)} for p in missing),
                dlog.commit_info("FSCK", numRemovedFiles=len(missing)),
            ],
            read_version=snap.version,
        )
        return missing

    def cleanup_metadata(
        self, retention_hours: float | None = None
    ) -> list[str]:
        """Log metadata cleanup (delta.logRetentionDuration, default
        30 days): drop commit JSONs and superseded checkpoints older
        than the retention window and strictly below the newest
        checkpoint — the companion of VACUUM for the _delta_log side.
        Without it a long-lived streaming table accumulates one JSON
        per commit forever; with it the log stays O(checkpoint
        interval + retention window). History below the cut becomes
        time-travel-unreachable, and replay() raises a clear error
        for such versions instead of misreading a truncated log.

        The retention defaults from the table property
        ``delta.logRetentionDuration`` (``interval N days|hours``)
        when set, else 720 h. delta-spark runs this automatically at
        checkpoint time; here it is explicit, like the maintenance
        entry points the reference schedules (delta_manager.py)."""
        if retention_hours is None:
            conf = self._snapshot().metadata.get("configuration", {}) or {}
            raw = conf.get("delta.logRetentionDuration")
            retention_hours = 720.0
            if raw:
                m = re.fullmatch(
                    r"\s*interval\s+(\d+)\s+(day|days|hour|hours)\s*",
                    str(raw).lower(),
                )
                if not m:
                    raise ValueError(
                        f"unparseable delta.logRetentionDuration {raw!r}; "
                        "expected 'interval N days' or 'interval N hours'"
                    )
                n = int(m.group(1))
                retention_hours = float(
                    n * 24 if m.group(2).startswith("day") else n
                )
        return dlog.cleanup_metadata(
            self.path, retention_hours=retention_hours
        )

    def vacuum(
        self,
        retention_hours: float = 168.0,
        enforce_retention: bool = True,
        dry_run: bool = False,
        mode: str = "lite",
    ) -> list[str]:
        """Physically delete tombstoned files older than the retention
        window. Time travel to versions referencing them stops working
        afterwards — exactly Delta's trade-off.

        ``mode='lite'`` (VACUUM ... LITE) derives deletions from the
        COMMIT LOG alone — tombstones, dead DV files, aged cdc files —
        and never lists the table directory: the cheap form whose cost
        scales with the log, not with the object count (the reason it
        exists: a listing of a 100 TB table's millions of objects is
        itself a heavy job). ``mode='full'`` additionally WALKS the
        table directory and removes ORPHANS — data files no surviving
        log action references, the debris of failed/zombie writers
        that LITE can never see — aged past retention by mtime.

        Safety rails, mirroring delta-spark: a retention below the
        7-day default REFUSES unless ``enforce_retention=False`` (the
        retentionDurationCheck escape hatch) — a short window can
        delete files a concurrent reader or un-checkpointed stream
        still references. ``dry_run=True`` returns the would-be
        deletions without touching storage (VACUUM ... DRY RUN).
        If the table declares the ``vacuumProtocolCheck`` feature the
        FULL protocol gate runs first (the feature's contract:
        implementations must verify both reader and writer features
        before destructive file removal, so an engine that
        half-understands the table cannot delete files a feature it
        ignores still references)."""
        if mode not in ("lite", "full"):
            raise ValueError(f"vacuum mode must be 'lite' or 'full', not {mode!r}")
        if enforce_retention and retention_hours < 168.0:
            raise ValueError(
                f"retention_hours={retention_hours} is below the 7-day "
                "default; concurrent readers and streams may still "
                "reference these files. Pass enforce_retention=False "
                "to override (delta-spark's retentionDurationCheck)."
            )
        cutoff = (time.time() - retention_hours * 3600.0) * 1000.0
        snap = self._snapshot()
        if "vacuumProtocolCheck" in (
            (snap.protocol or {}).get("writerFeatures") or []
        ):
            # the feature's explicit gate: full reader+writer check
            # before any destructive action
            self._check_writer_protocol(snap, [])
        root = os.path.abspath(self.path) + os.sep
        deleted = []
        for path, rm in snap.tombstones.items():
            if rm.get("deletionTimestamp", 0) <= cutoff:
                full = os.path.join(self.path, path)
                # never delete a file outside the table root: a
                # shallow clone tombstones ABSOLUTE paths into its
                # source table, and vacuuming the clone must not
                # destroy the source's data (Delta's rule)
                if not os.path.abspath(full).startswith(root):
                    continue
                if os.path.exists(full):
                    if not dry_run:
                        os.remove(full)
                    deleted.append(path)
        # Deletion-vector files: referenced only through live adds'
        # descriptors (never tombstoned as such), so clean the ones no
        # live add references once they age past retention — the
        # delta-spark rule. Mtime is the age proxy (the file is
        # written once, at its commit).
        live_dvs = set()
        for a in snap.files.values():
            dv = a.get("deletionVector")
            if dv and dv.get("storageType") == "u":
                enc = dv["pathOrInlineDv"]
                u = uuid.UUID(bytes=roaring.b85_decode(enc[-20:]))
                live_dvs.add(
                    os.path.abspath(
                        os.path.join(
                            self.path, enc[:-20], f"deletion_vector_{u}.bin"
                        )
                    )
                )
        for fn in os.listdir(self.path):
            if not (
                fn.startswith("deletion_vector_") and fn.endswith(".bin")
            ):
                continue
            full = os.path.join(self.path, fn)
            if (
                os.path.abspath(full) not in live_dvs
                and os.path.getmtime(full) * 1000.0 <= cutoff
            ):
                if not dry_run:
                    os.remove(full)
                deleted.append(fn)
        # Change-data files are never part of the live snapshot (cdc
        # actions carry no removes), so age them out by their COMMIT
        # timestamp, as delta-spark's VACUUM does: once a commit falls
        # outside the retention window its cdc files go, and a
        # read_change_feed over that range raises its loud
        # range-expired error instead of silently shrinking.
        for v in dlog.list_versions(self.path):
            actions = dlog.read_commit(self.path, v)
            ts_ms = next(
                (
                    self._ci_ts(a["commitInfo"])
                    for a in actions
                    if "commitInfo" in a
                ),
                0,
            )
            if ts_ms > cutoff:
                continue
            for a in actions:
                if "cdc" not in a:
                    continue
                rel = a["cdc"]["path"]
                full = os.path.join(self.path, rel)
                if os.path.abspath(full).startswith(root) and os.path.exists(
                    full
                ):
                    if not dry_run:
                        os.remove(full)
                    deleted.append(rel)
        if mode == "full":
            # Orphan scan: anything under the table root that no log
            # action accounts for — not a live add, not a tombstone
            # (handled above by deletionTimestamp), not a cdc file,
            # not a DV — and older than retention by mtime is debris
            # from a failed/zombie writer. Listing is the cost FULL
            # pays that LITE avoids.
            referenced: set[str] = set()
            for a in snap.files.values():
                referenced.add(os.path.abspath(os.path.join(self.path, a["path"])))
            for p in snap.tombstones:
                referenced.add(os.path.abspath(os.path.join(self.path, p)))
            for v in dlog.list_versions(self.path):
                for a in dlog.read_commit(self.path, v):
                    for key in ("add", "remove", "cdc"):
                        if key in a and "path" in a[key]:
                            referenced.add(
                                os.path.abspath(
                                    os.path.join(self.path, a[key]["path"])
                                )
                            )
            referenced |= live_dvs
            for dirpath, dirnames, filenames in os.walk(self.path):
                # never descend into the log (or hidden dirs like
                # streaming checkpoints): VACUUM owns DATA files only
                dirnames[:] = [
                    d for d in dirnames
                    if d != dlog.LOG_SUBDIR and not d.startswith((".", "_"))
                ]
                for fn in filenames:
                    if fn.startswith((".", "_")):
                        continue
                    if fn.startswith("deletion_vector_"):
                        continue  # handled by the DV pass above
                    full = os.path.join(dirpath, fn)
                    ab = os.path.abspath(full)
                    if ab in referenced or not ab.startswith(root):
                        continue
                    if os.path.getmtime(full) * 1000.0 <= cutoff:
                        if not dry_run:
                            os.remove(full)
                        deleted.append(os.path.relpath(full, self.path))
        if dry_run:
            return deleted
        if deleted:
            self._commit_next(
                [dlog.commit_info("VACUUM END", numDeletedFiles=len(deleted))],
                retry_append=True,
            )
        return deleted

    # ------------------------------------------------------------ change feed

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Rows ADDED by data-changing commits in (v_from, v_to] — the
        append-only change feed that drives incremental maintenance
        (read the delta, fold it into downstream aggregates instead of
        recomputing; queries/advanced.incremental_agg_merge is the
        algebra). dataChange=false files (compaction/clustering) are
        skipped, exactly why the spec tracks that flag. Raises if the
        range contains a commit that REMOVED data-changing files
        (overwrite/merge): those need per-row pre-images (full CDF
        with _change_type), which this log does not record —
        documented limit, same failure mode as Delta streaming reads
        without CDF."""
        paths: list[str] = []
        dv_map: dict[str, dict] = {}
        for v in dlog.list_versions(self.path):
            if v <= v_from or v > v_to:
                continue
            for action in dlog.read_commit(self.path, v):
                if "remove" in action and action["remove"].get(
                    "dataChange", True
                ):
                    raise ValueError(
                        f"version {v} removed data files; row-level "
                        "change feed requires pre-images (CDF) — "
                        "recompute downstream state from the snapshot "
                        "instead"
                    )
                if "add" in action and action["add"].get("dataChange", True):
                    paths.append(action["add"]["path"])
                    # the action's OWN DV state, never the current
                    # snapshot's: deletes after the range must not
                    # shrink the historical delta
                    if action["add"].get("deletionVector"):
                        dv_map[action["add"]["path"]] = action["add"][
                            "deletionVector"
                        ]
        gone = [
            p for p in paths if not os.path.exists(os.path.join(self.path, p))
        ]
        if gone:
            # a file added in the range was later removed AND vacuumed;
            # surface the expired range instead of failing mid-scan or
            # silently feeding a partial delta (Delta raises the same
            # way for time travel past the retention window)
            raise ValueError(
                f"change feed ({v_from}, {v_to}] references "
                f"{len(gone)} vacuumed file(s) (e.g. {gone[0]}); the "
                "range has expired — recompute from the snapshot"
            )
        return self._read_snapshot_files(
            self._snapshot(), paths, dv_map=dv_map
        )

    # ------------------------------------------------- change data feed
    #
    # Delta's CDF surface: with delta.enableChangeDataFeed set, MERGE
    # writes its per-row changes to _change_data/ parquet files and
    # commits them as 'cdc' actions (the protocol's AddCDCFile);
    # read_change_feed() returns every change in a version range under
    # the CDF read schema (_change_type/_commit_version/
    # _commit_timestamp). Commits WITHOUT cdc actions synthesize
    # changes from the file diff — adds→insert, removes→delete — which
    # is row-accurate exactly for the operations that never rewrite
    # untouched rows into new files (append, overwrite, restore); a
    # MERGE from before the property was set raises instead of
    # emitting delete+insert noise for its rewritten-but-untouched
    # rows (delta-spark refuses the same way).

    CDF_PROP = "delta.enableChangeDataFeed"
    CDF_DIR = "_change_data"

    def _cdf_enabled(self, snap: dlog.Snapshot) -> bool:
        conf = snap.metadata.get("configuration", {}) or {}
        return str(conf.get(self.CDF_PROP, "false")).lower() == "true"

    def enable_change_data_feed(self) -> int:
        """ALTER TABLE ... SET TBLPROPERTIES
        ('delta.enableChangeDataFeed'='true'). Changes are recorded
        from the NEXT commit on; history before this version has no
        cdc files (Delta's behavior too)."""
        snap = self._snapshot()
        conf = dict(snap.metadata.get("configuration", {}) or {})
        if str(conf.get(self.CDF_PROP, "false")).lower() == "true":
            return snap.version
        conf[self.CDF_PROP] = "true"
        return self._alter(
            snap,
            "SET TBLPROPERTIES",
            {"properties": {self.CDF_PROP: "true"}},
            meta={"configuration": conf},
            features={"changeDataFeed"},
        )

    def _write_cdc_files(
        self, changes: DataFrame, snap: dlog.Snapshot | None = None
    ) -> list[dict]:
        """Write one commit's change rows (data columns +
        ``_change_type``) under ``_change_data/`` and return their
        'cdc' action payloads. dataChange=false semantics are implicit:
        snapshot reads never consult cdc actions, and the underscore
        directory is invisible to directory listings. Partition
        columns are stored as regular columns in the cdc file (a
        documented simplification of the spec's partitioned cdc
        layout — this module is both writer and reader of them).
        Under column mapping the data columns are stored physical
        (``_change_type`` is a protocol column, never mapped), exactly
        like the data files — read_change_feed renames them back."""
        if snap is None and dlog.list_versions(self.path):
            snap = dlog.replay(self.path)
        changes, _ = self._physicalize(changes, snap)
        os.makedirs(os.path.join(self.path, self.CDF_DIR), exist_ok=True)
        staging = os.path.join(
            self.path, f"_staging-cdc-{uuid.uuid4().hex}"
        )
        out: list[dict] = []
        try:
            changes.write.mode("overwrite").parquet(staging)
            for fn in sorted(os.listdir(staging)):
                if not fn.endswith(".parquet"):
                    continue
                rel = f"{self.CDF_DIR}/cdc-{uuid.uuid4().hex}.parquet"
                os.rename(
                    os.path.join(staging, fn),
                    os.path.join(self.path, rel),
                )
                out.append(
                    {
                        "path": rel,
                        "partitionValues": {},
                        "size": os.path.getsize(
                            os.path.join(self.path, rel)
                        ),
                        "dataChange": False,
                    }
                )
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return out

    def read_change_feed(self, v_from: int, v_to: int) -> DataFrame:
        """Per-row changes in (v_from, v_to] under Delta's CDF read
        schema: the data columns plus ``_change_type`` (insert /
        delete / update_preimage / update_postimage),
        ``_commit_version``, ``_commit_timestamp``. All files are read
        under the LATEST declared schema (Delta does the same and
        errors on incompatible evolution). Raises when the range
        contains a MERGE without cdc files (CDF wasn't enabled) or
        references vacuumed files (range expired)."""
        snap = self._snapshot()
        schema = self._schema_for(snap)
        cdc_schema = T.StructType(
            list(schema.fields)
            + [T.StructField("_change_type", T.StringType(), False)]
        )
        empty = self.spark.createDataFrame(
            [],
            T.StructType(
                list(cdc_schema.fields)
                + [
                    T.StructField("_commit_version", T.LongType(), False),
                    T.StructField(
                        "_commit_timestamp", T.TimestampType(), True
                    ),
                ]
            ),
        )
        parts: list[DataFrame] = []
        for v in dlog.list_versions(self.path):
            if v <= v_from or v > v_to:
                continue
            actions = dlog.read_commit(self.path, v)
            op = ""
            ts_ms = 0
            for a in actions:
                if "commitInfo" in a:
                    op = a["commitInfo"].get("operation", "")
                    ts_ms = self._ci_ts(a["commitInfo"])
            cdc = [a["cdc"] for a in actions if "cdc" in a]
            adds = [
                a["add"]["path"]
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            ]
            removes = [
                a["remove"]["path"]
                for a in actions
                if "remove" in a
                and a["remove"].get("dataChange", True)
            ]
            if cdc:
                # the protocol: cdc actions are the COMPLETE change
                # set for their commit; add/remove are ignored
                gone = [
                    c["path"]
                    for c in cdc
                    if not os.path.exists(
                        os.path.join(self.path, c["path"])
                    )
                ]
                if gone:
                    raise ValueError(
                        f"change feed ({v_from}, {v_to}] references "
                        f"missing cdc file {gone[0]}; range expired"
                    )
                # cdc files store data columns at PHYSICAL names on a
                # column-mapped table (exactly like data files);
                # _change_type is a protocol column, never mapped
                cmap = self._column_mapping(snap)
                cids = (
                    self._column_ids(snap)
                    if (snap.metadata.get("configuration", {}) or {}).get(
                        self.MAPPING_MODE
                    )
                    == "id"
                    else {}
                )
                if cids:
                    self.spark.conf.set(
                        "spark.sql.parquet.fieldId.read.enabled", "true"
                    )
                cdc_read = T.StructType(
                    [
                        T.StructField(
                            cmap.get(f.name, f.name),
                            f.dataType,
                            f.nullable,
                            {"parquet.field.id": cids[f.name]}
                            if f.name in cids
                            else None,
                        )
                        for f in cdc_schema.fields
                    ]
                )
                df = self.spark.read.schema(cdc_read).parquet(
                    *[
                        os.path.join(self.path, c["path"])
                        for c in cdc
                    ]
                ).select(
                    *[
                        F.col(cmap.get(f.name, f.name)).alias(f.name)
                        for f in cdc_schema.fields
                    ]
                )
            elif adds and removes and op in ("MERGE", "DELETE", "UPDATE"):
                # rewriting ops mix touched and untouched rows in the
                # same files; only cdc actions can attribute them.
                # (A DELETE with removes ONLY — whole files gone —
                # synthesizes accurately and takes the else branch.)
                raise ValueError(
                    f"version {v} is a {op} without cdc files — "
                    "delta.enableChangeDataFeed was not set when it "
                    "committed; its rewritten files cannot be "
                    "attributed per-row. Start the feed after it."
                )
            else:
                gone = [
                    p
                    for p in (*adds, *removes)
                    if not os.path.exists(os.path.join(self.path, p))
                ]
                if gone:
                    raise ValueError(
                        f"change feed ({v_from}, {v_to}] references "
                        f"{len(gone)} vacuumed file(s) "
                        f"(e.g. {gone[0]}); the range has expired"
                    )
                dfs = []
                if adds:
                    # apply the COMMIT's own DV state (the add action
                    # carries it — e.g. a restore re-adding DV'd
                    # files), never the latest snapshot's: later
                    # deletes must not erase historical inserts
                    dv_adds = {
                        a["add"]["path"]: a["add"]["deletionVector"]
                        for a in actions
                        if "add" in a and a["add"].get("deletionVector")
                    }
                    dfs.append(
                        self._read_snapshot_files(
                            snap, adds, dv_map=dv_adds
                        ).withColumn("_change_type", F.lit("insert"))
                    )
                if removes:
                    # a removed file's effective rows are those live
                    # in the PRIOR snapshot — its DV state then, not
                    # now (tombstones don't carry descriptors)
                    prev = dlog.replay(self.path, until=v - 1)
                    dv_rm = {
                        p: prev.files[p]["deletionVector"]
                        for p in removes
                        if p in prev.files
                        and prev.files[p].get("deletionVector")
                    }
                    dfs.append(
                        self._read_snapshot_files(
                            snap, removes, dv_map=dv_rm
                        ).withColumn("_change_type", F.lit("delete"))
                    )
                if not dfs:
                    continue
                df = dfs[0]
                for d in dfs[1:]:
                    df = df.unionByName(d)
            parts.append(
                df.withColumn(
                    "_commit_version", F.lit(v).cast("long")
                ).withColumn(
                    "_commit_timestamp",
                    F.timestamp_seconds(F.lit(ts_ms / 1000.0)),
                )
            )
        if not parts:
            return empty
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------ streaming

    def as_stream(self) -> DataFrame:
        """Table-as-stream (the reference's bronze re-read pattern,
        streaming_pipeline.py:47-48): a file-source stream over the
        table directory with the DECLARED schema. Spark's file source
        ignores ``_delta_log`` (underscore prefix) and discovers each
        newly committed data file as it lands, so for APPEND-ONLY
        tables this is exactly Delta's streaming read. Constraint
        (documented, asserted): the real Delta source reads the log to
        skip ``dataChange=false`` files; a plain file stream cannot,
        so this raises if the table has ever been compacted or
        overwritten — run maintenance on the downstream copy instead,
        which is also the reference's layout (bronze append-only,
        OPTIMIZE on silver)."""
        snap = self._snapshot()
        if self._column_mapping(snap):
            raise NotImplementedError(
                "as_stream reads the directory with the declared "
                "schema; a column-mapped table's files carry physical "
                "names. Stream with delta-spark."
            )
        if any(a.get("deletionVector") for a in snap.files.values()):
            # a plain file stream reads whole files and would emit
            # DV-deleted rows (the append-only guard below catches
            # every MOR delete we commit — this covers foreign logs
            # whose adds carry DVs without a remove in history)
            raise NotImplementedError(
                "as_stream on a table with deletion vectors: the file "
                "stream cannot apply row-level deletes; purge() first "
                "or consume the change feed (deltaish_cdf)"
            )
        for v in dlog.list_versions(self.path):
            for action in dlog.read_commit(self.path, v):
                if "remove" in action:
                    raise ValueError(
                        "as_stream requires an append-only history; "
                        f"version {v} removed files (optimize/overwrite/"
                        "merge). Stream from an append-only upstream "
                        "table instead."
                    )
        schema = T.StructType.fromJson(
            json.loads(snap.metadata["schemaString"])
        )
        if snap.metadata.get("partitionColumns"):
            raise NotImplementedError(
                "as_stream on partitioned tables: partition values "
                "are directory-encoded; stream the unpartitioned "
                "bronze layout as the reference does"
            )
        return (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(self.path)
        )

    def streaming_sink(self, txn_app_id: str | None = None):
        """foreachBatch body committing one log version per micro-batch
        — the reference's streaming->Delta landing path, with the
        commit stats the latency notebooks need (TimeDelay.ipynb).

        With ``txn_app_id`` the sink is EXACTLY-ONCE under micro-batch
        retries: each commit records the protocol's ``txn`` action and
        a redelivered batch_id at or below the committed watermark is
        skipped (Delta's txnAppId/txnVersion idempotence contract)."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            if txn_app_id is not None and batch_id <= self.last_txn_version(
                txn_app_id
            ):
                return
            self.append(
                batch_df, txn_app_id=txn_app_id, txn_version=batch_id
            )

        return _sink

    def upsert_sink(
        self,
        keys: list[str],
        order_col: str,
        txn_app_id: str | None = None,
    ):
        """foreachBatch body applying each micro-batch as a MERGE
        upsert — the streaming CDC-apply pattern (latest row per key
        lands, earlier versions are replaced in place). Within a batch,
        the winner per key is the row with the highest ``order_col``
        (ties to arbitrary among equals is unacceptable for CDC, so
        order_col must be a monotonic change sequence). Re-merging an
        identical batch is idempotent by construction (matched rows
        update to the same values); with ``txn_app_id`` a redelivered
        batch id short-circuits before doing any work, via a txn
        marker committed right after the merge."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            if txn_app_id is not None and batch_id <= self.last_txn_version(
                txn_app_id
            ):
                return
            latest = (
                batch_df.withColumn(
                    "__rn",
                    F.row_number().over(
                        Window.partitionBy(*keys).orderBy(F.desc(order_col))
                    ),
                )
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            v = self.merge(latest, keys)
            if txn_app_id is not None:
                # the merge commit cannot carry the txn action through
                # merge()'s signature; record it as a follow-up
                # commitInfo+txn marker (commutes — append-retry safe)
                self._commit_next(
                    [
                        {
                            "txn": {
                                "appId": txn_app_id,
                                "version": int(batch_id),
                                "lastUpdated": int(time.time() * 1000),
                            }
                        },
                        dlog.commit_info(
                            "TXN MARKER", mergeVersion=v
                        ),
                    ],
                    retry_append=True,
                )

        return _sink
