"""DDL statements + metadata store (SURVEY.md §2.11).

Reference dispatch: ``statement_executor.go:241-450`` — CREATE/DROP
DATABASE, RETENTION POLICY, MEASUREMENT; SHOW DATABASES / RETENTION
POLICIES; DELETE/DROP SERIES. The raft-replicated ts-meta store becomes a
JSON metadata file next to the data (on a cluster: the lakehouse catalog);
row deletion becomes a partition-wise rewrite (no tombstones needed —
partitions are immutable day buckets).
"""

from __future__ import annotations

import json
import re
import shutil
from dataclasses import asdict, dataclass, field
from pathlib import Path

from pyspark.sql import SparkSession, functions as F

from opengemini_spark import storage
from opengemini_spark.influxql.lexer import DUR_NS


@dataclass
class RetentionPolicy:
    name: str
    duration_ns: int
    shard_group_duration_ns: int = 86_400_000_000_000  # 1d partitions
    default: bool = False
    hot_duration_ns: int = 0
    warm_duration_ns: int = 0
    index_duration_ns: int = 0    # 0 → tracks shard group duration
    replica_n: int = 1


def _go_dur(ns: int) -> str:
    """Go ``time.Duration.String()`` for whole-second durations:
    ``0s``, ``1h0m0s``, ``168h0m0s`` (meta/data.go ShowRetentionPolicies
    marshals durations with Duration.String())."""
    if ns == 0:
        return "0s"
    s, rem_ns = divmod(ns, 10**9)
    frac = ""
    if rem_ns:
        frac = f"{rem_ns / 1e9:.9f}".rstrip("0")[1:]  # ".5" style
    h, s = divmod(s, 3600)
    m, s = divmod(s, 60)
    if h:
        return f"{h}h{m}m{s}{frac}s"
    if m:
        return f"{m}m{s}{frac}s"
    return f"{s}{frac}s"


def _norm_shard_group_ns(duration_ns: int) -> int:
    """Default shard-group duration by retention duration
    (lifted influxdb meta: 0→168h, <2d→1h, <6mo→1d, else 7d)."""
    if duration_ns == 0:
        return 7 * 24 * 3_600_000_000_000
    if duration_ns < 2 * 24 * 3_600_000_000_000:
        return 3_600_000_000_000
    if duration_ns < 180 * 24 * 3_600_000_000_000:
        return 24 * 3_600_000_000_000
    return 7 * 24 * 3_600_000_000_000


@dataclass
class Database:
    name: str
    retention_policies: dict[str, RetentionPolicy] = field(default_factory=dict)
    measurements: list[str] = field(default_factory=list)
    tag_array: bool = False       # EnableTagArray (detail: "array")
    replica_n: int = 1
    # typed CREATE MEASUREMENT schemas: name → {rp, tags, fields,
    # engine, shardkey, primarykey} (ShowMeasurementsDetail)
    measurement_info: dict = field(default_factory=dict)


class MetaStore:
    """JSON-file metadata catalog (ts-meta analog, single-writer)."""

    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.path = self.root / "_meta.json"
        self.databases: dict[str, Database] = {}
        self.users: dict[str, dict] = {}
        self.streams: dict[str, dict] = {}
        self.cqs: dict[str, dict] = {}
        self.subscriptions: dict[str, dict] = {}
        # downsample policies keyed "db.rp" — the reference hangs the
        # policy off the RetentionPolicyInfo (meta/downsample_policy.go)
        self.downsamples: dict[str, dict] = {}
        if self.path.exists():
            raw = json.loads(self.path.read_text())
            self.users = raw.pop("__users__", {})
            self.streams = raw.pop("__streams__", {})
            self.cqs = raw.pop("__cqs__", {})
            self.subscriptions = raw.pop("__subscriptions__", {})
            self.downsamples = raw.pop("__downsamples__", {})
            for name, d in raw.items():
                db = Database(
                    name,
                    {
                        r["name"]: RetentionPolicy(**r)
                        for r in d["retention_policies"].values()
                    },
                    d["measurements"],
                    measurement_info=d.get("measurement_info", {}),
                )
                self.databases[name] = db

    def save(self) -> None:
        self.path.write_text(
            json.dumps(
                {
                    **{
                        n: {
                            "name": d.name,
                            "retention_policies": {
                                rn: asdict(rp)
                                for rn, rp in d.retention_policies.items()
                            },
                            "measurements": d.measurements,
                            "measurement_info": d.measurement_info,
                        }
                        for n, d in self.databases.items()
                    },
                    "__users__": self.users,
                    "__streams__": self.streams,
                    "__subscriptions__": self.subscriptions,
                    "__cqs__": self.cqs,
                    "__downsamples__": self.downsamples,
                },
                indent=1,
            )
        )

    def db_dir(self, db: str) -> Path:
        return self.root / db


_DUR_RE = re.compile(r"(\d+)(ns|u|ms|s|m|h|d|w)")


def _dur_ns(s: str) -> int:
    s = s.lower()
    if s == "inf":
        return 0
    return sum(int(v) * DUR_NS[u] for v, u in _DUR_RE.findall(s))


def _check_valid_name(name: str) -> None:
    """meta.ValidName: names of '.', '..', or containing '/' are invalid."""
    if name in (".", "..") or "/" in name or not name:
        raise ValueError("invalid name")


class QueryParseError(ValueError):
    """A yacc-level parse failure: the reference's httpd layer returns it
    as the TOP-LEVEL response error (``{"error": "error parsing query:
    …"}``), not a per-statement error row."""


class _OrigMatch:
    """Match proxy that re-reads group text from the ORIGINAL (pre-lower)
    statement by span, so identifier values keep their case while the
    dispatch keywords stay case-insensitive."""

    def __init__(self, m: re.Match, orig: str):
        self._m = m
        self._s = orig

    def group(self, i: int = 0):
        a, b = self._m.span(i)
        return None if a == -1 else self._s[a:b]

    def span(self, i: int = 0):
        return self._m.span(i)

    def start(self, i: int = 0):
        return self._m.start(i)

    def end(self, i: int = 0):
        return self._m.end(i)


class DDLExecutor:
    """Regex-dispatch executor for the DDL surface (the reference's own DDL
    grammar is flat keyword sequences — sql.y DDL productions)."""

    def __init__(self, spark: SparkSession, meta: MetaStore,
                 password_policy: bool = True, auth_enabled: bool = False):
        self.spark = spark
        self.meta = meta
        # NewParseConfig servers validate password strength; the default
        # config does not (ShowDatabases_WithAuth creates user `admin`
        # with password 'admin' successfully)
        self.password_policy = password_policy
        # per-request authorization context (httpd auth middleware):
        # when enabled, SHOW DATABASES lists only the current user's
        # readable/writable databases
        self.auth_enabled = auth_enabled
        self.current_user: str | None = None

    def execute(self, q: str) -> dict:
        s = q.strip().rstrip(";")
        low = s.lower()
        for pattern, fn in self._DISPATCH:
            m = re.match(pattern, low)
            if m:
                # patterns are written lowercase and matched against the
                # lowered text; identifier VALUES are case-significant
                # (CREATE DATABASE dbR keeps its capitals —
                # ShowDatabases_WithAuth), so groups re-extract from the
                # original statement by span
                return fn(self, s, _OrigMatch(m, s))
        self._parse_checks(low)
        raise ValueError(f"DDL: unsupported statement {q!r}")

    @staticmethod
    def _parse_checks(low: str) -> None:
        """Malformed statement forms that the reference's yacc grammar
        rejects with specific token errors (UserCommands 'bad create
        user request' cases)."""
        m = re.match(r"create user\s+(\S+)?", low)
        if m:
            name = m.group(1)
            if name is None or name == "with":
                raise QueryParseError(
                    "syntax error: unexpected WITH, expecting IDENT"
                )
            if name[0].isdigit():
                # 0x… lexes as a duration token in the influxql scanner
                raise QueryParseError(
                    "syntax error: unexpected DURATIONVAL, expecting IDENT"
                )
            if not re.search(r"create user\s+\S+\s+with\b", low):
                raise QueryParseError(
                    "syntax error: unexpected $end, expecting WITH"
                )
        m = re.match(r"create database\s+(\S+)(.*)$", low)
        if m:
            name, rest = m.group(1), m.group(2)
            if name[0].isdigit():
                raise QueryParseError(
                    "syntax error: unexpected DURATIONVAL, expecting IDENT"
                )
            dm = re.search(r"\bduration\s+(\S+)", rest)
            if dm and not re.match(r"^(inf|\d+(ns|u|ms|s|m|h|d|w))+$",
                                   dm.group(1)):
                raise QueryParseError(
                    "syntax error: unexpected IDENT, expecting DURATIONVAL"
                )
            rm = re.search(r"\breplication\s+(\S+)", rest)
            if rm and not rm.group(1).isdigit():
                raise QueryParseError(
                    "syntax error: unexpected IDENT, expecting INTEGER"
                )
            if re.search(r"\bname$", rest):
                raise QueryParseError(
                    "syntax error: unexpected $end, expecting IDENT"
                )

    # --- databases ---
    def _create_db(self, s, m):
        """CREATE DATABASE [WITH DURATION d [REPLICATION n]
        [SHARD DURATION d] [NAME rp]] — the WITH clause configures the
        initial retention policy instead of the autogen default
        (statement_executor.go executeCreateDatabaseStatement)."""
        name = m.group(1)
        dur, shard_dur, rp_name = m.group(2), m.group(3), m.group(4)
        for tok in (dur, shard_dur):
            if tok is not None and not re.match(
                r"^(inf|(\d+(ns|u|ms|s|m|h|d|w))+)$", tok
            ):
                raise QueryParseError(
                    "syntax error: unexpected IDENT, expecting DURATIONVAL"
                )
        if rp_name is not None and rp_name.startswith('"'):
            rp_name = rp_name[1:-1]
            _check_valid_name(rp_name)
        rp = RetentionPolicy(
            rp_name or "autogen",
            _dur_ns(dur) if dur else 0,
            default=True,
        )
        rp.shard_group_duration_ns = (
            _dur_ns(shard_dur) if shard_dur
            else _norm_shard_group_ns(rp.duration_ns)
        )
        if name in self.meta.databases:
            if dur or shard_dur or rp_name:
                # re-create with a WITH clause: the implied policy must
                # match the existing default exactly
                # (database_commands "retention policy is different")
                cur = next(
                    (r for r in self.meta.databases[name]
                     .retention_policies.values() if r.default),
                    None,
                )
                if cur is None or (
                    cur.name, cur.duration_ns, cur.shard_group_duration_ns
                ) != (rp.name, rp.duration_ns, rp.shard_group_duration_ns):
                    raise ValueError(
                        "retention policy conflicts with an existing policy"
                    )
            return {"ok": True}
        self.meta.databases[name] = Database(name)
        self.meta.databases[name].retention_policies[rp.name] = rp
        self.meta.db_dir(name).mkdir(parents=True, exist_ok=True)
        self.meta.save()
        return {"ok": True}

    def _drop_db(self, s, m):
        name = m.group(1)
        self.meta.databases.pop(name, None)
        shutil.rmtree(self.meta.db_dir(name), ignore_errors=True)
        root = getattr(self, "data_root", None)
        if root is not None and Path(root).is_dir():
            # server mode: dropping the database removes its measurement
            # data (drop_and_recreate_database — recreate sees no data)
            for d in Path(root).iterdir():
                if d.is_dir():
                    shutil.rmtree(d, ignore_errors=True)
        self.meta.save()
        return {"ok": True}

    def _show_dbs(self, s, m):
        block: dict = {"name": "databases", "columns": ["name"]}
        names = sorted(self.meta.databases)
        if self.auth_enabled and self.current_user is not None:
            # authorized listing: an admin sees everything, other users
            # see only databases they hold READ/WRITE/ALL on
            # (ShowDatabases_WithAuth)
            u = self.meta.users.get(self.current_user, {})
            if not u.get("admin"):
                grants = u.get("grants", {})
                names = [n for n in names if grants.get(n)]
        if names:
            block["values"] = [[n] for n in names]
        return {"series": [block]}

    def _show_dbs_detail(self, s, m):
        """SHOW DATABASES DETAIL: name, ReplicaN, Tag Attribute
        (statement_executor.go executeShowDatabasesStatement ShowDetail)."""
        return {
            "series": [
                {
                    "name": "databases",
                    "columns": ["name", "ReplicaN", "Tag Attribute"],
                    "values": [
                        [
                            n,
                            d.replica_n,
                            "array" if d.tag_array else "default",
                        ]
                        for n, d in sorted(self.meta.databases.items())
                    ],
                }
            ]
        }

    # --- retention policies ---
    def _create_rp(self, s, m):
        """CREATE RETENTION POLICY … [REPLICATION n] [SHARD DURATION d]
        [DEFAULT] — influxdb meta validation: duration ≥ 1h (or INF),
        shard duration 0 → normalized default, < 1h → 1h; recreating an
        existing policy with a different spec is a conflict
        (retention_policy_commands)."""
        rp_name, db, dur = m.group(1), m.group(2), m.group(3)
        repl, shard_dur, dflt = m.group(4), m.group(5), m.group(6)
        if db not in self.meta.databases:
            raise ValueError(f"database not found: {db}")
        d = self.meta.databases[db]
        dur_ns = _dur_ns(dur)
        if dur_ns != 0 and dur_ns < 3_600_000_000_000:
            raise ValueError(
                "retention policy duration must be at least 1h0m0s"
            )
        rp = RetentionPolicy(rp_name, dur_ns, default=bool(dflt))
        if repl:
            rp.replica_n = int(repl)
        sg = _dur_ns(shard_dur) if shard_dur else 0
        if sg == 0:
            sg = _norm_shard_group_ns(dur_ns)
        elif sg < 3_600_000_000_000:
            sg = 3_600_000_000_000
        rp.shard_group_duration_ns = sg
        cur = d.retention_policies.get(rp_name)
        if cur is not None:
            if (
                cur.duration_ns, cur.shard_group_duration_ns,
                cur.replica_n, cur.default,
            ) != (rp.duration_ns, rp.shard_group_duration_ns,
                  rp.replica_n, rp.default):
                raise ValueError(
                    "retention policy conflicts with an existing policy"
                )
            return {"ok": True}
        d.retention_policies[rp_name] = rp
        if rp.default:
            for other in d.retention_policies.values():
                other.default = other.name == rp_name
        self.meta.save()
        return {"ok": True}

    def _drop_rp(self, s, m):
        """DROP RETENTION POLICY — dropping from a missing database or a
        missing policy succeeds silently (retention_policy_commands)."""
        rp_name, db = m.group(1), m.group(2)
        d = self.meta.databases.get(db)
        if d is not None:
            d.retention_policies.pop(rp_name, None)
            self.meta.save()
        return {"ok": True}

    def _invalid_name(self, s, m):
        raise ValueError("invalid name")

    def _show_rps(self, s, m):
        """Nameless row, Go duration strings, name-sorted
        (meta/data.go ShowRetentionPolicies)."""
        db = m.group(1)
        if db not in self.meta.databases:
            raise ValueError(f"database not found: {db}")
        rps = self.meta.databases[db].retention_policies
        return {
            "series": [
                {
                    "columns": [
                        "name", "duration", "shardGroupDuration",
                        "hot duration", "warm duration", "index duration",
                        "replicaN", "default",
                    ],
                    "values": sorted(
                        [
                            r.name,
                            _go_dur(r.duration_ns),
                            _go_dur(r.shard_group_duration_ns),
                            _go_dur(r.hot_duration_ns),
                            _go_dur(r.warm_duration_ns),
                            _go_dur(
                                r.index_duration_ns
                                or r.shard_group_duration_ns
                            ),
                            r.replica_n,
                            r.default,
                        ]
                        for r in rps.values()
                    ),
                }
            ]
        }

    # --- measurements / series ---
    def _drop_measurement(self, s, m):
        """DROP MEASUREMENT [rp.]name — an rp-qualified name drops only
        that retention policy's copy; an unqualified name drops the flat
        dir and the DEFAULT rp's copy (DropMeasurementPerRP: `DROP
        MEASUREMENT cpu0` leaves rp1.cpu0 intact)."""
        spec = m.group(1)
        name = spec.split(".")[-1]
        # rp-prefixed copies of the measurement: an unqualified drop
        # removes only the DEFAULT rp's copy, `DROP MEASUREMENT rp.m`
        # that rp's (DropMeasurementPerRP). The drop of these is
        # immediate; the PLAIN name keeps the reference's async-delete
        # semantics — the metastore entry goes, stored data lingers
        # (SHOW SERIES after an unqualified drop still lists the series,
        # server_test.go SHOW-metadata suite).
        rp_targets = []
        if "." in spec:
            rp_targets.append(spec)
        else:
            for d in self.meta.databases.values():
                for rp in d.retention_policies.values():
                    if rp.default:
                        rp_targets.append(f"{rp.name}.{spec}")
        for d in self.meta.databases.values():
            if name in d.measurements:
                d.measurements.remove(name)
                shutil.rmtree(self.meta.db_dir(d.name) / name,
                              ignore_errors=True)
        for t in rp_targets:
            for path in self._measurement_dirs(t):
                shutil.rmtree(path, ignore_errors=True)
        self.meta.save()
        return {"ok": True}

    # --- row deletion (DELETE FROM / DROP SERIES) -------------------
    data_root: str | None = None   # server-mode write root (api wires it)

    def _measurement_dirs(self, spec: str) -> list[Path]:
        """Dirs for a measurement name or /regex/ across the server-mode
        data root and the meta store's databases."""
        out: list[Path] = []
        pat = None
        if spec.startswith("/") and spec.endswith("/"):
            pat = re.compile(spec[1:-1])
        roots: list[Path] = []
        if self.data_root is not None and Path(self.data_root).is_dir():
            roots.append(Path(self.data_root))
        for db in self.meta.databases.values():
            roots.append(self.meta.db_dir(db.name))
        for r in roots:
            if not r.is_dir():
                continue
            for d in sorted(r.iterdir()):
                if not d.is_dir():
                    continue
                if pat is not None:
                    if pat.search(d.name):
                        out.append(d)
                elif d.name == spec:
                    out.append(d)
        return out

    @staticmethod
    def _parse_del_conds(cond: str) -> list[tuple[str, str, object]]:
        """'host = 'x' AND time < '…'' → [(ident, op, value)] — the
        restricted tag/time predicate language of series deletion."""
        out: list[tuple[str, str, object]] = []
        for clause in re.split(r"\s+and\s+", cond.strip(), flags=re.I):
            m = re.match(
                r"""^\s*"?([A-Za-z_][A-Za-z0-9_]*)"?\s*"""
                r"""(=|!=|<=|<|>=|>)\s*(.+?)\s*$""",
                clause,
            )
            if not m:
                raise ValueError(f"invalid WHERE clause: {clause!r}")
            ident, op, raw = m.group(1), m.group(2), m.group(3)
            val: object
            if raw.startswith("'") and raw.endswith("'"):
                val = raw[1:-1]
            else:
                try:
                    val = int(raw)
                except ValueError:
                    val = raw
            out.append((ident, op, val))
        return out

    @staticmethod
    def _time_bound_ns(val: object) -> int:
        if isinstance(val, int):
            return val
        from datetime import datetime, timezone

        txt = str(val).replace("Z", "+00:00")
        return int(
            datetime.fromisoformat(txt)
            .astimezone(timezone.utc).timestamp() * 1e9
        )

    def _delete_rows(self, s, m):
        """DELETE FROM <m> WHERE [tag = 'v' AND] time < '…' — row-level
        deletion as a filtered partition rewrite
        (delete_series_time / delete_series_time_tag_filter)."""
        # re-extract from the original text: tag VALUES are case-significant
        om = re.match(
            r"delete from ([A-Za-z_][A-Za-z0-9_]*)(?:\s+where\s+(.*))?$",
            s, re.I,
        )
        name, cond = om.group(1), om.group(2)
        conds = self._parse_del_conds(cond) if cond else []
        self._rewrite_dirs(name, conds, stmt="DELETE")
        return {"ok": True}

    def _drop_series(self, s, m):
        """DROP SERIES FROM <m|/re/> [WHERE tag = 'v'] — whole-series
        deletion; time bounds are rejected, field predicates error
        (drop_series_from_regex)."""
        om = re.match(
            r"drop series from ([A-Za-z_][A-Za-z0-9_]*|/.*?/)"
            r"(?:\s+where\s+(.*))?$",
            s, re.I,
        )
        spec, cond = om.group(1), om.group(2)
        conds = self._parse_del_conds(cond) if cond else []
        if any(c[0].lower() == "time" for c in conds):
            raise ValueError(
                "DROP SERIES doesn't support time in WHERE clause"
            )
        self._rewrite_dirs(spec, conds, stmt="DROP SERIES")
        return {"ok": True}

    def _rewrite_dirs(
        self, spec: str, conds: list[tuple[str, str, object]], stmt: str
    ) -> None:
        for d in self._measurement_dirs(spec):
            tags = storage.read_schema(str(d)).get("tags") or []
            expr = None
            for ident, op, val in conds:
                if ident.lower() == "time":
                    bound = self._time_bound_ns(val)
                    col = F.col("time_ns")
                    c = {
                        "<": col < bound, "<=": col <= bound,
                        ">": col > bound, ">=": col >= bound,
                        "=": col == bound, "!=": col != bound,
                    }[op]
                elif ident in tags:
                    col = F.col(ident)
                    c = (col == val) if op == "=" else (col != val)
                else:
                    # a field reference cannot drive deletion
                    raise ValueError(
                        "shard 1: fields not supported in WHERE clause "
                        "during deletion"
                    )
                expr = c if expr is None else (expr & c)
            if expr is None:
                # unconditional: the whole measurement's rows go
                shutil.rmtree(d, ignore_errors=True)
                continue
            storage.rewrite_measurement(
                self.spark, str(d), ~F.coalesce(expr, F.lit(False))
            )


    _FIELD_TYPE_WIRE = {
        "int64": "integer", "float64": "float", "bool": "boolean",
        "string": "string",
    }

    def _create_measurement_typed(self, s, m):
        """CREATE MEASUREMENT db.rp.name (col type, …) [WITH
        [ENGINETYPE = x] [SHARDKEY a,b] [PRIMARYKEY a,b,time]] —
        columnstore schema DDL (statement_executor.go CreateMeasurement;
        ShowMeasurementsDetail)."""
        om = re.match(
            r"create\s+measurement\s+([A-Za-z_][\w.]*)\s*"
            r"\(([^)]*)\)\s*(?:with\s+(.*))?$",
            s, re.I,
        )
        qualified, cols, opts = om.group(1), om.group(2), om.group(3) or ""
        parts = qualified.split(".")
        name = parts[-1]
        db = parts[0] if len(parts) >= 3 else next(
            iter(sorted(self.meta.databases)), None
        )
        rp = parts[1] if len(parts) >= 3 else "autogen"
        if db is None or db not in self.meta.databases:
            raise ValueError("CREATE MEASUREMENT requires a database")
        tags: list[str] = []
        fields: list[tuple[str, str]] = []
        for c in cols.split(","):
            c = c.strip()
            if not c:
                continue
            cname, ctype = c.split()
            if ctype.lower() == "tag":
                tags.append(cname)
            else:
                fields.append(
                    (cname, self._FIELD_TYPE_WIRE.get(ctype.lower(),
                                                      ctype.lower()))
                )
        info = {"rp": rp, "tags": sorted(tags), "fields": fields,
                "engine": "tsstore", "shardkey": [], "primarykey": []}
        em = re.search(r"enginetype\s*=\s*(\w+)", opts, re.I)
        if em:
            info["engine"] = em.group(1).lower()
        km = re.search(r"shardkey\s+([\w,]+)", opts, re.I)
        if km:
            info["shardkey"] = km.group(1).split(",")
        pm = re.search(r"primarykey\s+([\w,]+)", opts, re.I)
        if pm:
            info["primarykey"] = pm.group(1).split(",")
        self.register_measurement(db, name)
        self.meta.databases[db].measurement_info[name] = info
        self.meta.save()
        return {"ok": True}

    def _show_measurements_detail(self, s, m):
        """SHOW MEASUREMENTS DETAIL WITH MEASUREMENT = x — one Detail
        block per measurement (statement_executor.go
        executeShowMeasurementsDetailStatement wire shape)."""
        name = m.group(1)
        info = None
        for d in self.meta.databases.values():
            if name in d.measurement_info:
                info = d.measurement_info[name]
                break
        if info is None:
            raise ValueError(f"measurement not found: {name}")
        lines = [
            f"RETENTION POLICY: {info['rp']}",
            "INDEX: <nil>",
            "SHARD KEY: " + (", ".join(info["shardkey"]) or "<nil>"),
            f"ENGINE TYPE: {info['engine']}",
        ]
        if info["engine"] == "columnstore":
            pk = info["primarykey"]
            lines.append("PRIMARY KEY: " + ", ".join(pk))
            lines.append("SORT KEY: " + ", ".join(pk))
            lines.append("COMPACTION_TYPE: row")
        lines.append("TAG KEYS: " + ", ".join(info["tags"]))
        lines.append(
            "FIELD KEYS: "
            + ", ".join(f"{n}({t})" for n, t in info["fields"])
        )
        return {
            "series": [
                {
                    "name": name,
                    "columns": ["Detail"],
                    "values": [[x] for x in lines],
                }
            ]
        }

    def _show_shards(self, s, m):
        """SHOW SHARDS: one row per (db, measurement, time partition) —
        shard groups are the parquet day-partition directories."""
        rows = []
        for db in sorted(self.meta.databases):
            for mst in sorted(self.meta.databases[db].measurements):
                root = self.meta.db_dir(db) / mst
                for p in sorted(root.glob(f"{storage.PARTITION_COL}=*")):
                    rows.append([db, mst, p.name.split("=", 1)[1]])
        return {
            "series": [
                {
                    "name": "shards",
                    "columns": ["database", "measurement", "shard_group"],
                    "values": rows,
                }
            ]
        }

    def _show_shard_groups(self, s, m):
        """SHOW SHARD GROUPS (meta/data.go:2015 ShowShardGroups): one row
        per live shard group across every db.rp — here the parquet
        day-partition directories, with expiry = end + rp duration.
        Row shape: id/database/retention_policy/start_time/end_time/
        expiry_time, RFC3339 UTC."""
        from datetime import datetime, timezone

        def rfc3339(ns: int) -> str:
            return datetime.fromtimestamp(
                ns / 1e9, tz=timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%SZ")

        rows = []
        gid = 0
        for db in sorted(self.meta.databases):
            d = self.meta.databases[db]
            default_rp = next(
                (r for r in d.retention_policies.values() if r.default),
                None,
            )
            seen: set[str] = set()
            for mst in sorted(d.measurements):
                root = self.meta.db_dir(db) / mst
                for p in sorted(root.glob(f"{storage.PARTITION_COL}=*")):
                    day = p.name.split("=", 1)[1]
                    if day in seen:
                        continue
                    seen.add(day)
                    gid += 1
                    start_ns = int(
                        datetime.strptime(day, "%Y-%m-%d")
                        .replace(tzinfo=timezone.utc)
                        .timestamp()
                    ) * 10**9
                    end_ns = start_ns + storage.DAY_NS
                    dur = default_rp.duration_ns if default_rp else 0
                    rows.append([
                        gid, db,
                        default_rp.name if default_rp else "autogen",
                        rfc3339(start_ns), rfc3339(end_ns),
                        rfc3339(end_ns + dur),
                    ])
        return {
            "series": [
                {
                    "name": "shard groups",
                    "columns": ["id", "database", "retention_policy",
                                "start_time", "end_time", "expiry_time"],
                    "values": rows,
                }
            ]
        }

    def _show_cluster(self, s, m):
        """SHOW CLUSTER [WHERE nodeID = n | nodeType = t | both]
        (sql.y:4053; executeShowCluster statement_executor.go:2599 →
        buildClusterRows meta_client_impl.go:765): a node block
        (time/status/hostname/nodeID/nodeType/availability) followed by a
        migration-event block. The Spark engine is a single process
        standing in for ts-meta + ts-store, so it reports one meta node
        and one data node on this host; the event block is empty (no pt
        migrations)."""
        import socket
        import time as _time

        node_type = None
        node_id = 0
        for cm in re.finditer(
            r"node(id|type)\s*=\s*'?\"?([a-z0-9_]+)'?\"?", s.lower()
        ):
            if cm.group(1) == "id":
                node_id = int(cm.group(2))
            else:
                node_type = cm.group(2)
        if node_type not in (None, "data", "meta"):
            # errno.InValidNodeType
            raise ValueError(f"invalid node type: {node_type}")
        host = socket.gethostname()
        ts = _time.time_ns()
        nodes = [
            [ts, "alive", host, 1, "meta", "available"],
            [ts, "alive", host, 2, "data", "available"],
        ]
        if node_type:
            nodes = [n for n in nodes if n[4] == node_type]
        if node_id:
            nodes = [n for n in nodes if n[3] == node_id]
        if not nodes:
            # errno.InValidNodeID
            raise ValueError(f"invalid node id: {node_id}")
        return {
            "series": [
                {
                    "columns": ["time", "status", "hostname", "nodeID",
                                "nodeType", "availability"],
                    "values": nodes,
                },
                {
                    "columns": ["opId", "eventType", "db", "ptId",
                                "srcNodeId", "dstNodeId", "currState",
                                "preState"],
                },
            ]
        }

    def _show_measurement_keys(self, s, m):
        """SHOW PRIMARYKEY/SORTKEY/PROPERTY/SHARDKEY/ENGINETYPE/INDEXES/
        COMPACT/SCHEMA FROM [db[.rp].]mst (sql.y MEASUREMENT_INFO +
        SHOW_MEASUREMENT_KEYS_STATEMENT productions;
        executeShowMeasurementKeysStatement
        statement_executor.go:1309-1363, row shapes :1366-1445):
        per-measurement key/engine/index metadata straight from the
        metastore. The COLUMNSTORE-only keys reject tsstore measurements
        with the reference's error text."""
        key, target = m.group(1).upper(), m.group(2)
        parts = target.split(".")
        if len(parts) > 3:
            raise ValueError("error parsing query")
        name = parts[-1]
        # sql.y target forms: mst | db.rp.mst | db..mst | .rp.mst | ..mst;
        # a single-dot 2-part form is off-grammar in the reference — the
        # nearest production is .rp.mst, so treat it as rp.mst
        db = parts[0] or None if len(parts) == 3 else None
        rp = (parts[1] if len(parts) == 3 else
              parts[0] if len(parts) == 2 else "") or None

        def _mst_rp(d_) -> str:
            return d_.measurement_info.get(name, {}).get("rp", "autogen")

        if db is not None:
            if db not in self.meta.databases:
                # e.MetaClient.Database(stmt.Database) errors first
                raise ValueError("database not found")
            d = self.meta.databases[db]
            if rp is not None and rp not in d.retention_policies:
                raise ValueError("rp not found")
            # rp.MstVersions[stmt.Measurement] lookup: the measurement
            # must live in the resolved RP (statement_executor.go:1321)
            if name not in d.measurements or (
                rp is not None and _mst_rp(d) != rp
            ):
                raise ValueError("measurement not found")
        else:
            # no session database on this executor: resolve the bare (or
            # rp-qualified) name across databases; with an explicit rp the
            # measurement must be recorded under that RP
            db = next(
                (dn for dn, d_ in self.meta.databases.items()
                 if name in d_.measurements
                 and (rp is None or _mst_rp(d_) == rp)),
                None,
            )
            if db is None:
                raise ValueError("measurement not found")
        info = self.meta.databases[db].measurement_info.get(
            name,
            {"rp": "autogen", "tags": [], "fields": [],
             "engine": "tsstore", "shardkey": [], "primarykey": []},
        )
        engine = info.get("engine", "tsstore")
        if key in ("PRIMARYKEY", "SORTKEY", "PROPERTY", "COMPACT") \
                and engine != "columnstore":
            raise ValueError("only support for COLUMNSTORE engine")

        def shard_key_row():
            # getShardKey: one row per ShardKeyInfo (key list, type,
            # owning shard group — 0 when set at CREATE time)
            vals = []
            if info.get("shardkey"):
                vals.append(
                    [info["shardkey"], info.get("shardkey_type", "hash"), 0]
                )
            return {"columns": ["SHARD_KEY", "TYPE", "SHARD_GROUP"],
                    "values": vals}

        def engine_row():
            return {"columns": ["ENGINETYPE"], "values": [[engine]]}

        def index_row():
            # getIndex: UPPER(indexName)(col,…) per index relation; the
            # only index DDL this engine records is the field index
            vals = (
                [["FIELD(" + ",".join(info["field_index"]) + ")"]]
                if info.get("field_index") else []
            )
            return {"columns": ["INDEXES"], "values": vals}

        def primary_row():
            return {"columns": ["PRIMARY_KEY"],
                    "values": [[info.get("primarykey", [])]]}

        def sort_row():
            # SHOW MEASUREMENTS DETAIL parity: sort key defaults to the
            # primary key when no explicit SORTKEY was declared
            sk = info.get("sortkey") or info.get("primarykey", [])
            return {"columns": ["SORT_KEY"], "values": [[sk]]}

        def compact_row():
            return {"columns": ["COMPACTION_TYPE"], "values": [["row"]]}

        def property_row():
            # getProperty iterates PropertyKey but emits PrimaryKey[i]
            # as the key (statement_executor.go:1418-1422); no property
            # DDL is recorded here, so both lists are empty either way
            return {"columns": ["PROPERTY_KEY", "PROPERTY_VALUE"],
                    "values": [[[], []]]}

        series = {
            "SHARDKEY": lambda: [shard_key_row()],
            "ENGINETYPE": lambda: [engine_row()],
            "INDEXES": lambda: [index_row()],
            "PRIMARYKEY": lambda: [primary_row()],
            "SORTKEY": lambda: [sort_row()],
            "COMPACT": lambda: [compact_row()],
            "PROPERTY": lambda: [property_row()],
            "SCHEMA": lambda: (
                [shard_key_row(), engine_row(), index_row()]
                + ([primary_row(), sort_row(), compact_row()]
                   if engine == "columnstore" else [])
            ),
        }[key]()
        return {"series": series}

    def _unsupported_command(self, s, m):
        # DROP SHARD / SHOW DIAGNOSTICS dispatch straight to
        # meta.ErrUnsupportCommand (statement_executor.go:308,350)
        raise ValueError("unsupported command")

    def _alter_shard_key(self, s, m):
        """ALTER MEASUREMENT [db[.rp].]m [WITH SHARDKEY k,… [TYPE t]]
        (sql.y:3684; executeAlterShardKeyStatement:689): the key list is
        sorted, validated (no empties, no duplicates — ValidShardKey
        data.go:4406), the measurement must exist, and the sharding type
        must match the measurement's existing type."""
        target, keys_text, type_ = m.group(1), m.group(2), m.group(3)
        parts = target.split(".")
        name = parts[-1]
        if len(parts) >= 2:
            # db[.rp].m qualified: the named database only
            db = parts[0]
            if (
                db not in self.meta.databases
                or name not in self.meta.databases[db].measurements
            ):
                raise ValueError("measurement not found")
        else:
            db = next(
                (dn for dn, d_ in self.meta.databases.items()
                 if name in d_.measurements),
                None,
            )
            if db is None:
                raise ValueError("measurement not found")
        keys = sorted(
            k.strip() for k in (keys_text or "").split(",")
        ) if keys_text else []
        for i, k in enumerate(keys):
            if not k:
                raise ValueError("invalid shard key")
            if i and keys[i - 1] == k:
                raise ValueError("duplicate shard key")
        new_type = (type_ or "hash").lower()
        d = self.meta.databases[db]
        info = d.measurement_info.setdefault(
            name,
            {"rp": "autogen", "tags": [], "fields": [],
             "engine": "tsstore", "shardkey": [], "primarykey": []},
        )
        cur_type = info.get("shardkey_type", "hash")
        if new_type != cur_type:
            raise ValueError(
                f"sharding type is not equal, new type is {new_type}, "
                f"old type is {cur_type}"
            )
        if keys == info["shardkey"]:
            return {"ok": True}      # AlterShardKey no-op on equal keys
        info["shardkey"] = keys
        info["shardkey_type"] = new_type
        self.meta.save()
        return {"ok": True}

    def _set_password(self, s, m):
        """SET PASSWORD FOR user = 'pw' (sql.y:3547;
        executeSetPasswordUserStatement → MetaClient.UpdateUser): same
        strength policy as CREATE USER when enabled."""
        name = m.group(1)
        cm = re.match(
            r"set\s+password\s+for\s+\S+\s*=\s*'([^']*)'", s, re.IGNORECASE
        )
        pw = cm.group(1) if cm else ""
        if name not in self.meta.users:
            raise ValueError(f"user not found: {name}")
        if self.password_policy:
            self._check_password_strength(pw)
        self.meta.users[name]["password_set"] = True
        self.meta.save()
        return {"ok": True}

    #: the sql component's visible config keys (executeShowConfigs
    #: publishes the sql node's effective config; logging.level is the
    #: one SET CONFIG-mutable key — statement_executor.go:2561-2588)
    _SQL_CONFIGS: dict[str, object] = {"logging.level": "info"}

    def _show_configs(self, s, m):
        import socket

        cfg = dict(self._SQL_CONFIGS)
        cfg.update(getattr(self, "_config_overrides", {}))
        host = socket.gethostname()
        return {
            "series": [
                {
                    "columns": ["component", "instance", "name", "value"],
                    "values": [
                        ["sql", host, k, cfg[k]] for k in sorted(cfg)
                    ],
                }
            ]
        }

    def _set_config(self, s, m):
        component, key = m.group(1), m.group(2)
        vm = re.match(
            r"set\s+config\s+\S+\s+\"?[\w.-]+\"?\s*=\s*"
            r"(?:'([^']*)'|\"([^\"]*)\"|(\S+))",
            s, re.IGNORECASE,
        )
        value = next(
            g for g in (vm.group(1), vm.group(2), vm.group(3))
            if g is not None
        )
        if component == "sql" and key == "logging.level":
            # only the string form is legal for logging.level
            if vm.group(3) is not None and vm.group(3).lower() in (
                "true", "false"
            ) or (vm.group(3) or "").replace(".", "").isdigit():
                raise ValueError("illegal type of logging level input")
            overrides = getattr(self, "_config_overrides", None)
            if overrides is None:
                overrides = self._config_overrides = {}
            overrides[key] = value
            return {"ok": True}
        raise ValueError("unsupported config command")

    # --- admin surface (statement_executor.go:241-450 dispatch rows) ---
    def _alter_rp(self, s, m):
        """ALTER RETENTION POLICY … DURATION … [DEFAULT]."""
        rp_name, db, dur = m.group(1), m.group(2), m.group(3)
        d = self.meta.databases[db]
        if rp_name not in d.retention_policies:
            raise ValueError(f"retention policy not found: {rp_name}")
        rp = d.retention_policies[rp_name]
        rp.duration_ns = _dur_ns(dur)
        if m.group(4):
            for other in d.retention_policies.values():
                other.default = other.name == rp_name
        self.meta.save()
        return {"ok": True}

    def _create_measurement(self, s, m):
        """CREATE MEASUREMENT <name> (columnstore DDL,
        statement_executor.go CreateMeasurement): pre-registers the
        measurement in meta so SHOW MEASUREMENTS lists it before first
        write."""
        db = next(iter(sorted(self.meta.databases)), None)
        if db is None:
            raise ValueError("CREATE MEASUREMENT requires a database")
        name = m.group(1)
        if m.group(2) and any(
            name in d.measurements for d in self.meta.databases.values()
        ):
            # plain re-create is idempotent; re-create WITH a schema
            # clause conflicts (measurement_commands "with shardkey")
            raise ValueError("measurement already exists")
        self.register_measurement(db, name)
        im = re.search(
            r"indextype\s+\"?field\"?\s+indexlist\s+([\w,]+)",
            m.group(2) or "", re.I,
        )
        if im:
            # field-index DDL (TestServer_FieldIndex_Query): the listed
            # FIELDS become GROUP BY-able like tags while staying fields
            info = self.meta.databases[db].measurement_info.setdefault(
                name,
                {"rp": "rp0", "tags": [], "fields": [],
                 "engine": "tsstore", "shardkey": [], "primarykey": []},
            )
            info["field_index"] = im.group(1).split(",")
            self.meta.save()
        return {"ok": True}

    def _create_user(self, s, m):
        # the dispatch matches on the lowercased text; the password is
        # case-significant, so re-extract it from the original statement
        name = m.group(1)
        cm = re.match(
            r"create\s+user\s+\S+\s+with\s+password\s+'([^']*)'",
            s, re.IGNORECASE,
        )
        pw = cm.group(1) if cm else m.group(2)
        if self.password_policy:
            self._check_password_strength(pw)
        self.meta.users[name] = {
            "admin": bool(m.group(3)), "rwuser": False, "grants": {},
        }
        self.meta.save()
        return {"ok": True}

    @staticmethod
    def _check_password_strength(pw: str) -> None:
        """NewParseConfig password policy (shared by CREATE USER and SET
        PASSWORD — both route through meta user updates)."""
        if len(pw) < 8 or len(pw) > 256:
            raise ValueError(
                "the password needs to be between 8 and 256 characters long"
            )
        if not (
            any(c.isupper() for c in pw)
            and any(c.islower() for c in pw)
            and any(c.isdigit() for c in pw)
            and any(not c.isalnum() for c in pw)
        ):
            raise ValueError(
                "The user password must contain more than 8 characters "
                "and uppercase letters, lowercase letters, digits, and "
                "at least one of the special characters."
            )

    def _drop_user(self, s, m):
        if m.group(1) not in self.meta.users:
            raise ValueError("user not found")
        del self.meta.users[m.group(1)]
        self.meta.save()
        return {"ok": True}

    def _grant_revoke_all(self, s, m):
        """GRANT/REVOKE ALL PRIVILEGES without ON <db>: the reference
        forbids cluster-wide admin changes (UserCommands)."""
        raise ValueError(
            "forbidden to grant or revoke privileges, because only one "
            "admin is allowed for the database"
        )

    def _show_grants(self, s, m):
        user = m.group(1)
        if user not in self.meta.users:
            raise ValueError(f"user not found: {user}")
        grants = self.meta.users[user]["grants"]
        return {
            "series": [
                {
                    "name": "grants",
                    "columns": ["database", "privilege"],
                    "values": [[db, p] for db, p in sorted(grants.items())],
                }
            ]
        }

    def _show_users(self, s, m):
        """Nameless block, (user, admin, rwuser) columns; empty result
        carries no values key (UserCommands wire shape)."""
        block: dict = {"columns": ["user", "admin", "rwuser"]}
        if self.meta.users:
            block["values"] = [
                [n, u["admin"], u.get("rwuser", False)]
                for n, u in sorted(self.meta.users.items())
            ]
        return {"series": [block]}

    def _grant(self, s, m):
        priv, db, user = m.group(1).lower(), m.group(2), m.group(3)
        if user not in self.meta.users:
            raise ValueError(f"user not found: {user}")
        self.meta.users[user]["grants"][db] = priv
        self.meta.save()
        return {"ok": True}

    def _revoke(self, s, m):
        db, user = m.group(2), m.group(3)
        if user not in self.meta.users:
            raise ValueError(f"user not found: {user}")
        self.meta.users[user]["grants"].pop(db, None)
        self.meta.save()
        return {"ok": True}

    def _kill_query(self, s, m):
        """KILL QUERY <id>: cancel the Spark job group the query runs
        under — the reference aborts the query's executor DAG the same way
        (statement_executor.go executeKillQuery)."""
        qid = int(m.group(1))
        from opengemini_spark import querytrack

        if not querytrack.kill(self.spark, qid):
            raise ValueError(f"no such query id: {qid}")
        return {"ok": True}

    def _show_queries(self, s, m):
        from opengemini_spark import querytrack

        return {
            "series": [
                {
                    "name": "queries",
                    "columns": ["qid", "query", "duration_s"],
                    "values": querytrack.listing(),
                }
            ]
        }

    # --- streams / continuous queries (statement surface, r3) ---
    # CREATE STREAM name INTO dst ON SELECT … [DELAY d]
    # (grammar sql.y:3896 CREATE_STREAM_STATEMENT; dispatch
    # statement_executor.go:433). The SELECT goes through the real InfluxQL
    # parser; semantics bind to streaming/stream_job.py.

    def _parse_stream_select(self, select_text: str, require_into: bool,
                             restrict_calls: bool = True):
        from opengemini_spark.influxql import ast as iast
        from opengemini_spark.influxql.parser import parse
        from opengemini_spark.streaming.stream_job import (
            CQ_CALLS,
            STREAM_CALLS,
        )

        stmt = parse(select_text)
        if not isinstance(stmt, iast.SelectStatement):
            raise ValueError("stream/CQ body must be a SELECT statement")
        if require_into and not stmt.into:
            raise ValueError("continuous query SELECT needs an INTO target")
        if stmt.group_time is None:
            # the reference also supports filter-only streams (ast.go:11535
            # Check); this engine scope is windowed-agg streams only
            raise ValueError("stream/CQ SELECT needs GROUP BY time(...)")
        calls: dict[str, tuple[str, str]] = {}
        for f in stmt.fields:
            e = f.expr
            if not (isinstance(e, iast.Call) and e.args
                    and isinstance(e.args[0], iast.VarRef)):
                raise ValueError("stream fields must be call(field)")
            allowed = STREAM_CALLS if restrict_calls else CQ_CALLS
            if e.name not in allowed:
                raise ValueError(
                    f"stream call {e.name!r} not supported "
                    f"(reference restriction lib/stream/stream.go:71: "
                    f"{allowed})"
                )
            out = f.alias or f"{e.name}_{e.args[0].name}"
            calls[out] = (e.name, e.args[0].name)
        if not isinstance(stmt.source, str):
            raise ValueError("stream source must be a single measurement")
        return stmt, calls

    def _stream_def(self, entry: dict, restrict: bool = True):
        from opengemini_spark.streaming.stream_job import StreamDef

        def dur(ns: int) -> str:
            return f"{ns // 1_000_000_000} seconds"

        return StreamDef(
            name=entry["name"],
            interval=dur(entry["interval_ns"]),
            delay=dur(entry["delay_ns"]) if entry["delay_ns"] else "0 seconds",
            dims=list(entry["dims"]),
            calls={k: tuple(v) for k, v in entry["calls"].items()},
            restrict=restrict,
        )

    def _create_stream(self, s, m):
        name, dest, select_text, delay = m.group(1), m.group(2), m.group(3), m.group(4)
        stmt, calls = self._parse_stream_select(select_text, require_into=False)
        self.meta.streams[name] = {
            "name": name,
            "dest": dest,
            "source": stmt.source,
            "interval_ns": stmt.group_time.interval_ns,
            "delay_ns": _dur_ns(delay) if delay else 0,
            "dims": list(stmt.group_tags),
            "calls": calls,
            "query": s,
        }
        self.meta.save()
        return {"ok": True}

    # --- subscriptions (executeCreateSubscriptionStatement,
    # statement_executor.go:862 → MetaClient.CreateSubscription) ---
    def _create_subscription(self, s, m):
        name, db, rp, mode = m.group(1), m.group(2), m.group(3), m.group(4)
        dests = re.findall(r"""["']([^"']*)["']""", s[m.end(4):])
        for d in dests:
            # destinations must be absolute http(s) URLs
            # (meta.CreateSubscription url.Parse + scheme validation —
            # SubscriptionCommands "CREATE SUBSCRIPTION WITH INVALID URL")
            if not re.match(r"(?i)https?://", d):
                raise ValueError(f"invalid url {d}")
        self.meta.subscriptions[name] = {
            "name": name, "db": db, "rp": rp,
            "mode": mode.upper(), "destinations": dests,
        }
        self.meta.save()
        return {"ok": True}

    def _drop_all_subscriptions(self, s, m):
        """DROP ALL SUBSCRIPTIONS [ON db] (sql.y DropSubscription ALL
        form): removes every subscription, or the named db's."""
        db = m.group(1)
        self.meta.subscriptions = {
            k: v for k, v in self.meta.subscriptions.items()
            if db is not None and v["db"] != db
        }
        self.meta.save()
        return {"ok": True}

    def _show_subscriptions(self, s, m):
        by_db: dict[str, list] = {}
        for e in self.meta.subscriptions.values():
            by_db.setdefault(e["db"], []).append(e)
        if not by_db:
            # no subscriptions → the wire omits "series" entirely
            return {}
        return {
            "series": [
                {
                    "name": db,
                    "columns": ["retention_policy", "name", "mode",
                                "destinations"],
                    "values": [
                        [e["rp"], e["name"], e["mode"], e["destinations"]]
                        for e in sorted(entries, key=lambda x: x["name"])
                    ],
                }
                for db, entries in sorted(by_db.items())
            ]
        }

    def _drop_subscription(self, s, m):
        name = m.group(1)
        if name not in self.meta.subscriptions:
            raise ValueError(f"subscription not found: {name}")
        del self.meta.subscriptions[name]
        self.meta.save()
        return {"ok": True}

    def _show_streams(self, s, m):
        return {
            "series": [
                {
                    "name": "streams",
                    "columns": ["name", "dest", "source", "interval_ns",
                                "delay_ns", "query"],
                    "values": [
                        [e["name"], e["dest"], e["source"], e["interval_ns"],
                         e["delay_ns"], e["query"]]
                        for e in self.meta.streams.values()
                    ],
                }
            ]
        }

    def _drop_stream(self, s, m):
        if m.group(1) not in self.meta.streams:
            raise ValueError(f"no such stream: {m.group(1)}")
        del self.meta.streams[m.group(1)]
        self.meta.save()
        return {"ok": True}

    @staticmethod
    def _fmt_influx_dur(ns: int) -> str:
        """influxql.FormatDuration: the largest unit dividing exactly
        (90m stays "90m", 1h stays "1h" — SHOW CONTINUOUS QUERIES
        normalization, continuous_query_commands suite)."""
        if ns == 0:
            return "0s"
        for suf, u in (
            ("w", 7 * 24 * 3600 * 10**9), ("d", 24 * 3600 * 10**9),
            ("h", 3600 * 10**9), ("m", 60 * 10**9), ("s", 10**9),
            ("ms", 10**6), ("u", 10**3),
        ):
            if ns % u == 0:
                return f"{ns // u}{suf}"
        return f"{ns}ns"

    def _default_rp(self, db: str) -> str:
        d = self.meta.databases.get(db)
        if d:
            for rp in d.retention_policies.values():
                if rp.default:
                    return rp.name
        return "autogen"

    def _normalize_cq(self, name, db, every_ns, for_ns, stmt) -> str:
        """The reference stores and SHOWs the CQ as its NORMALIZED
        statement text: quotes stripped, INTO/FROM fully qualified with
        the database's default RP, durations in influxql format
        (continuous_query_commands expected strings)."""
        def qualify(target: str) -> str:
            parts = target.split(".")
            if len(parts) == 3:
                return ".".join(parts)
            if len(parts) == 2:
                return f"{db}.{parts[0]}.{parts[1]}"
            return f"{db}.{self._default_rp(db)}.{target}"

        fields = ", ".join(
            f"{f.expr.name}({f.expr.args[0].name})"
            + (f" AS {f.alias}" if f.alias else "")
            for f in stmt.fields
        )
        resample = ""
        if every_ns or for_ns:
            resample = "RESAMPLE"
            if every_ns:
                resample += f" EVERY {self._fmt_influx_dur(every_ns)}"
            if for_ns:
                resample += f" FOR {self._fmt_influx_dur(for_ns)}"
            resample += " "
        gb = f"time({self._fmt_influx_dur(stmt.group_time.interval_ns)})"
        if stmt.group_tags:
            gb += ", " + ", ".join(stmt.group_tags)
        return (
            f"CREATE CONTINUOUS QUERY {name} ON {db} {resample}BEGIN "
            f"SELECT {fields} INTO {qualify(stmt.into)} "
            f"FROM {qualify(stmt.source)} GROUP BY {gb} END"
        )

    def _create_cq(self, s, m):
        name, db, every, for_, select_text = (
            m.group(1), m.group(2), m.group(3), m.group(4), m.group(5)
        )
        stmt, calls = self._parse_stream_select(
            select_text, require_into=True, restrict_calls=False
        )
        every_ns = _dur_ns(every) if every else None
        for_ns = _dur_ns(for_) if for_ else None
        normalized = self._normalize_cq(name, db, every_ns, for_ns, stmt)
        existing = self.meta.cqs.get(name)
        if existing is not None:
            # CQ names are GLOBALLY unique: an identical re-create is a
            # silent no-op; a different db or query errors
            # (continuous_query_commands "same name ... should ignore" /
            # "conflict name error")
            if existing["query"] == normalized:
                return {"ok": True}
            raise ValueError("continuous query name already exists")
        self.meta.cqs[name] = {
            "name": name,
            "db": db,
            "dest": stmt.into,
            "source": stmt.source,
            "interval_ns": stmt.group_time.interval_ns,
            "delay_ns": 0,
            "resample_every_ns": every_ns,
            "resample_for_ns": for_ns,
            "dims": list(stmt.group_tags),
            "calls": calls,
            "query": normalized,
        }
        self.meta.save()
        return {"ok": True}

    def _show_cqs(self, s, m):
        # one block per DATABASE — including databases with no CQs, whose
        # block carries columns but no values (continuous_query_commands
        # SHOW expectation: db2's empty block after the drop)
        by_db: dict[str, list] = {
            db: [] for db in sorted(self.meta.databases)
        }
        for e in self.meta.cqs.values():
            by_db.setdefault(e["db"], []).append([e["name"], e["query"]])
        out = []
        for db in sorted(by_db):
            blk = {"name": db, "columns": ["name", "query"]}
            if by_db[db]:
                blk["values"] = sorted(by_db[db])
            out.append(blk)
        return {"series": out}

    def _drop_cq(self, s, m):
        name, db = m.group(1), m.group(2)
        e = self.meta.cqs.get(name)
        if e is None or e["db"] != db:
            raise ValueError(f"no such continuous query: {name} on {db}")
        del self.meta.cqs[name]
        self.meta.save()
        return {"ok": True}

    # --- downsample policies (statement surface, r4) ---
    # CREATE DOWNSAMPLE [ON db.rp] (float(mean,max), integer(sum)) WITH
    # DURATION d SAMPLEINTERVAL(d,…) TIMEINTERVAL(d,…)
    # (grammar sql.y:3788 CREATE_DOWNSAMPLE_STATEMENT; dispatch
    # statement_executor.go:418-430; semantics NewDownSamplePolicyInfo +
    # Check, lib/util/lifted/influx/meta/downsample_policy.go:332,239)

    #: DownSampleSupportAgg (downsample_policy.go:31)
    _DOWNSAMPLE_AGGS = {"first", "last", "min", "max", "sum", "count",
                        "mean"}
    _DOWNSAMPLE_TYPES = {"integer", "float", "boolean", "string"}

    def _parse_downsample_calls(self, text: str) -> list[dict]:
        calls = []
        # type/op keywords are case-insensitive (the yacc lexer upcases
        # keywords); _OrigMatch hands back the original-case span
        for m in re.finditer(r"([a-z_][a-z0-9_]*)\s*\(([^)]*)\)",
                             text.lower()):
            dtype, ops = m.group(1), [
                o.strip() for o in m.group(2).split(",") if o.strip()
            ]
            if dtype not in self._DOWNSAMPLE_TYPES:
                # errno.DownSampleUnExpectedDataType
                raise ValueError(f"unexpected data type {dtype}")
            if not ops:
                # errno.DownSampleAtLeastOneOpsForDataType
                raise ValueError(
                    f"at least one agg op required for data type {dtype}"
                )
            for op in ops:
                if op not in self._DOWNSAMPLE_AGGS:
                    # errno.DownSampleUnsupportedAggOp
                    raise ValueError(f"unsupported agg op {op}")
            calls.append({"type": dtype, "ops": ops})
        if not calls:
            raise ValueError("downsample needs at least one call")
        return calls

    def _create_downsample(self, s, m):
        db, rp = m.group(1), m.group(2)
        if db is None or rp is None:
            # executeCreateDownSamplingStmt: ValidName(stmt.DbName) fails
            # for the bare / rp-only forms with no db context
            raise ValueError("invalid name")
        if db not in self.meta.databases:
            raise ValueError(f"database not found: {db}")
        rpi = self.meta.databases[db].retention_policies.get(rp)
        if rpi is None:
            raise ValueError("retention policy not found")
        calls = self._parse_downsample_calls(m.group(3))
        duration_ns = _dur_ns(m.group(4))
        sample_ns = [_dur_ns(x.strip()) for x in m.group(5).split(",")]
        time_ns = [_dur_ns(x.strip()) for x in m.group(6).split(",")]
        # ---- NewDownSamplePolicyInfo + Check (downsample_policy.go) ----
        if len(sample_ns) != len(time_ns):
            # errno.DownSampleIntervalLenCheck
            raise ValueError(
                "the length of sampleIntervals must be equal to "
                "timeIntervals"
            )
        for i in range(1, len(sample_ns)):
            if sample_ns[i - 1] >= sample_ns[i] or (
                time_ns[i - 1] >= time_ns[i]
                or time_ns[i] % time_ns[i - 1] != 0
            ):
                # errno.DownSampleIntervalCheck: levels strictly coarsen
                # and each time interval divides the next
                raise ValueError("invalid downsample intervals")
        duration_ns = max(duration_ns, 3_600_000_000_000)  # floor 1h
        if sample_ns[0] < rpi.shard_group_duration_ns:
            raise ValueError(
                "sample interval must be greater than shard duration"
            )
        if sample_ns[-1] >= duration_ns:
            raise ValueError(
                "max sample interval time must be smaller than retention "
                "policy duration"
            )
        entry = {
            "db": db, "rp": rp, "calls": calls,
            "duration_ns": duration_ns,
            "sample_interval_ns": sample_ns,
            "time_interval_ns": time_ns,
        }
        key = f"{db}.{rp}"
        if key in self.meta.downsamples:
            if self.meta.downsamples[key] == entry:
                return {"ok": True}      # identical policy: silent no-op
            # errno.DownSamplePolicyExists
            raise ValueError("downsample policy already exists")
        self.meta.downsamples[key] = entry
        self.meta.save()
        return {"ok": True}

    def _drop_downsample(self, s, m):
        db, rp = m.group(1), m.group(2)
        if db is None or rp is None:
            # the rp-only form carries no DbName → ValidName("") fails
            raise ValueError("invalid name")
        key = f"{db}.{rp}"
        if key not in self.meta.downsamples:
            # errno.DownSamplePolicyNotFound (rp exists but has no policy)
            raise ValueError("downsample policy not found")
        del self.meta.downsamples[key]
        self.meta.save()
        return {"ok": True}

    def _drop_all_downsamples(self, s, m):
        """DROP DOWNSAMPLES [ON db] — DropAll=true skips the
        policy-exists check (executeDropDownSamplingStmt)."""
        db = m.group(1)
        self.meta.downsamples = {
            k: v for k, v in self.meta.downsamples.items()
            if db is not None and v["db"] != db
        }
        self.meta.save()
        return {"ok": True}

    def _show_downsamples(self, s, m):
        db = m.group(1)
        if db is None:
            # coordinator.ErrDatabaseNameRequired
            raise ValueError("database name required")
        if db not in self.meta.databases:
            raise ValueError(f"database not found: {db}")

        def calls2string(calls: list[dict]) -> str:
            # DownSampleOperators.String(): type{op,op} joined by ","
            return ",".join(
                f'{c["type"]}{{{",".join(c["ops"])}}}' for c in calls
            )

        values = [
            [
                e["rp"],
                calls2string(e["calls"]),
                _go_dur(e["duration_ns"]),
                ",".join(_go_dur(x) for x in e["sample_interval_ns"]),
                ",".join(_go_dur(x) for x in e["time_interval_ns"]),
            ]
            for e in self.meta.downsamples.values()
            if e["db"] == db
        ]
        values.sort(key=lambda v: v[0])
        return {
            "series": [
                {
                    # ShowDownSamplePolicies row shape (meta/data.go:3827)
                    "columns": ["rpName", "field_operator", "duration",
                                "sampleInterval", "timeInterval"],
                    "values": values,
                }
            ]
        }

    def run_downsample_once(self, spark, db: str, rp: str, src,
                            dest_path: str, ts_col: str = "ts",
                            level: int = 0) -> list[str]:
        """One rollup cycle of the registered policy at the given level:
        fields are matched to the policy's per-type agg ops by Spark
        column type, then rewritten at TIMEINTERVAL resolution via
        ``downsample_once`` (engine_downsample.go analog). Returns the
        output agg column names."""
        from pyspark.sql.types import (
            BooleanType, DoubleType, FloatType, IntegerType, LongType,
            StringType,
        )

        from opengemini_spark.streaming.stream_job import downsample_once

        entry = self.meta.downsamples.get(f"{db}.{rp}")
        if entry is None:
            raise ValueError("downsample policy not found")
        type_of = {
            DoubleType: "float", FloatType: "float",
            LongType: "integer", IntegerType: "integer",
            StringType: "string", BooleanType: "boolean",
        }
        _FN = {"mean": F.mean, "sum": F.sum, "min": F.min, "max": F.max,
               "count": F.count}
        aggs, names = [], []
        for f_ in src.schema.fields:
            if f_.name == ts_col:
                continue
            dtype = type_of.get(type(f_.dataType))
            for call in entry["calls"]:
                if call["type"] != dtype:
                    continue
                for op in call["ops"]:
                    name = f"{op}_{f_.name}"
                    if op in _FN:
                        aggs.append(_FN[op](f_.name).alias(name))
                    elif op == "first":
                        aggs.append(
                            F.min_by(f_.name, ts_col).alias(name)
                        )
                    else:  # last
                        aggs.append(
                            F.max_by(f_.name, ts_col).alias(name)
                        )
                    names.append(name)
        if not aggs:
            raise ValueError("no fields match the downsample policy types")
        ti_s = entry["time_interval_ns"][level] // 1_000_000_000
        downsample_once(src, f"{ti_s} seconds", [], aggs, dest_path, ts_col)
        return names

    # statement → execution binding
    def run_stream_once(self, name: str, src, dest_path: str,
                        ts_col: str = "ts") -> None:
        """One batch cycle of a registered stream (the unified batch/stream
        aggregation; for a live run use ``start_registered_stream``)."""
        from opengemini_spark.streaming.stream_job import continuous_query_once

        entry = self.meta.streams.get(name)
        if entry is None:
            raise ValueError(f"no such stream: {name}")
        continuous_query_once(src, self._stream_def(entry), dest_path, ts_col)

    def start_registered_stream(self, name: str, src_stream, dest_path: str,
                                checkpoint: str, ts_col: str = "ts",
                                available_now: bool = True):
        from opengemini_spark.streaming.stream_job import start_stream

        entry = self.meta.streams.get(name)
        if entry is None:
            raise ValueError(f"no such stream: {name}")
        return start_stream(
            src_stream, self._stream_def(entry), dest_path, checkpoint,
            ts_col, trigger_available_now=available_now,
        )

    def run_cq_once(self, name: str, src, dest_path: str | None = None,
                    ts_col: str = "ts") -> str:
        """One resample tick of a registered continuous query; returns the
        destination path written (services/continuousquery/service.go:178
        runs the bound SELECT … INTO per tick)."""
        from opengemini_spark.streaming.stream_job import continuous_query_once

        entry = self.meta.cqs.get(name)
        if entry is None:
            raise ValueError(f"no such continuous query: {name}")
        dest = dest_path or str(self.meta.db_dir(entry["db"]) / entry["dest"])
        continuous_query_once(
            src, self._stream_def(entry, restrict=False), dest, ts_col
        )
        return dest

    _DISPATCH = [
        (
            r"create database ([a-z_][a-z0-9_]*)"
            r"(?: with(?: duration ([a-z0-9]+))?(?: replication \d+)?"
            r"(?: shard duration ([a-z0-9]+))?"
            r"(?: index duration [a-z0-9]+)?"
            r'(?: name ("[^"]*"|[a-z_][a-z0-9_]*))?'
            r"(?: shardkey [a-z0-9_,]+)?)?$",
            _create_db,
        ),
        (r'create database "[.]+"$', _invalid_name),
        (r'create retention policy "[.]+" on .*$', _invalid_name),
        (r"drop database ([a-z_][a-z0-9_]*)$", _drop_db),
        (r"show databases$", _show_dbs),
        (r"show databases detail$", _show_dbs_detail),
        (
            r"create retention policy ([a-z_][a-z0-9_]*) on ([a-z_][a-z0-9_]*) "
            r"duration ([a-z0-9]+)(?: replication (\d+))?"
            r"(?: shard duration ([a-z0-9]+))?( default)?$",
            _create_rp,
        ),
        (
            r"drop retention policy ([a-z_][a-z0-9_]*) on "
            r"([a-z_][a-z0-9_]*)$",
            _drop_rp,
        ),
        (
            r"alter retention policy ([a-z_][a-z0-9_]*) on ([a-z_][a-z0-9_]*) "
            r"duration ([a-z0-9]+)(?: replication \d+)?( default)?$",
            _alter_rp,
        ),
        (r"show retention policies on ([a-z_][a-z0-9_]*)$", _show_rps),
        (r"show shards$", _show_shards),
        (r"show shard groups$", _show_shard_groups),
        (r"drop shard \d+$", _unsupported_command),
        (r"show diagnostics$", _unsupported_command),
        (r"show cluster(?: where .+)?$", _show_cluster),
        (
            r"show (primarykey|sortkey|property|shardkey|enginetype"
            r"|schema|indexes|compact) from ([a-z0-9_.]+)$",
            _show_measurement_keys,
        ),
        (
            r"alter measurement ([a-z_][a-z0-9_.]*)"
            r"(?: with shardkey ([a-z0-9_,\s]+?))?"
            r"(?: type (hash|range))?$",
            _alter_shard_key,
        ),
        (r"set password for ([a-z_][a-z0-9_]*) = '[^']*'$", _set_password),
        (r"show configs$", _show_configs),
        # the key may be bare or quoted (config_command suite:
        # `SET CONFIG sql logging.level = debug`)
        (r'set config ([a-z_]+) "?([a-z_.-]+)"? = .+$', _set_config),
        (r"drop measurement ([a-z_][a-z0-9_.]*)$", _drop_measurement),
        (
            r"delete from ([a-z_][a-z0-9_]*)( where .*)?$",
            _delete_rows,
        ),
        (
            r"drop series from ([a-z_][a-z0-9_]*|/.*?/)( where .*)?$",
            _drop_series,
        ),
        (
            r"create measurement ([a-z_][a-z0-9_]*)(( with .*)?)$",
            _create_measurement,
        ),
        (
            r"create measurement [a-z_][\w.]*\s*\([^)]*\)"
            r"(?:\s+with\s+.*)?$",
            _create_measurement_typed,
        ),
        (
            r"show measurements detail with measurement = "
            r"([a-z_][a-z0-9_]*)$",
            _show_measurements_detail,
        ),
        (
            r"create user ([a-z_][a-z0-9_]*) with password '([^']*)'"
            r"( with all privileges)?$",
            _create_user,
        ),
        (r"grant all(?: privileges)? to [a-z_][a-z0-9_]*$",
         _grant_revoke_all),
        (r"revoke all(?: privileges)? from [a-z_][a-z0-9_]*$",
         _grant_revoke_all),
        (r"drop user ([a-z_][a-z0-9_]*)$", _drop_user),
        (r"show users$", _show_users),
        (r"show grants for ([a-z_][a-z0-9_]*)$", _show_grants),
        (
            r'grant (read|write|all)(?: privileges)? on "?([a-z_][a-z0-9_]*)"? '
            r'to "?([a-z_][a-z0-9_]*)"?$',
            _grant,
        ),
        (
            r'revoke (read|write|all)(?: privileges)? on "?([a-z_][a-z0-9_]*)"? '
            r'from "?([a-z_][a-z0-9_]*)"?$',
            _revoke,
        ),
        (r"kill query (\d+)$", _kill_query),
        (r"show queries$", _show_queries),
        (
            r"create stream ([a-z_][a-z0-9_]*) into ([a-z_][a-z0-9_.]*) "
            r"on (select .+?)(?: delay ([0-9]+(?:ns|u|ms|s|m|h|d|w)))?$",
            _create_stream,
        ),
        (
            r'create subscription "?([a-z_][a-z0-9_]*)"? on '
            r'"?([a-z_][a-z0-9_]*)"?\."?([a-z_][a-z0-9_]*)"? '
            r"destinations (all|any) ",
            _create_subscription,
        ),
        (r"show subscriptions$", _show_subscriptions),
        (
            r'drop all subscriptions(?: on "?([a-z_][a-z0-9_]*)"?)?$',
            _drop_all_subscriptions,
        ),
        (
            r'drop subscription "?([a-z_][a-z0-9_]*)"? on '
            r'"?([a-z_][a-z0-9_]*)"?\."?([a-z_][a-z0-9_]*)"?$',
            _drop_subscription,
        ),
        (r"show streams(?: on [a-z_][a-z0-9_]*)?$", _show_streams),
        (r"drop stream ([a-z_][a-z0-9_]*)$", _drop_stream),
        (
            r'create continuous query "?([a-z_][a-z0-9_]*)"? on '
            r'"?([a-z_][a-z0-9_]*)"?'
            r"(?: resample(?: every ([0-9]+[a-z]+))?(?: for ([0-9]+[a-z]+))?)?"
            r" begin (select .+) end$",
            _create_cq,
        ),
        (r"show continuous queries$", _show_cqs),
        (
            r'drop continuous query "?([a-z_][a-z0-9_]*)"? on '
            r'"?([a-z_][a-z0-9_]*)"?$',
            _drop_cq,
        ),
        (
            r"create downsample"
            r"(?: on ([a-z_][a-z0-9_]*)(?:\.([a-z_][a-z0-9_]*))?)?"
            r" \((.+)\) with duration ([0-9]+[a-z]+)"
            r" sampleinterval\s*\(([^)]*)\) timeinterval\s*\(([^)]*)\)$",
            _create_downsample,
        ),
        (
            r"drop downsample on ([a-z_][a-z0-9_]*)"
            r"(?:\.([a-z_][a-z0-9_]*))?$",
            _drop_downsample,
        ),
        (r"drop downsamples(?: on ([a-z_][a-z0-9_]*))?$",
         _drop_all_downsamples),
        (r"show downsamples(?: on ([a-z_][a-z0-9_]*))?$",
         _show_downsamples),
    ]

    def register_measurement(self, db: str, name: str) -> None:
        d = self.meta.databases[db]
        if name not in d.measurements:
            d.measurements.append(name)
            self.meta.save()
