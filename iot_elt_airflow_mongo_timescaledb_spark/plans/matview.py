"""SQL materialized views — TimescaleDB continuous aggregates,
Spark-first.

The reference's warehouse feature is the TimescaleDB continuous
aggregate: a stored GROUP BY rollup the database maintains
incrementally from the hypertable's change stream instead of
recomputing from history (the reference's aggregate DAGs do exactly
that recompute every run — dags/iot_dwh_agg_transform_daily.py:75).
This module is the SQL face over the engine's existing rollup
machinery (``plans/pipeline.py:IncrementalAggSync``):

- ``CREATE MATERIALIZED VIEW agg.mv AS SELECT <keys>, <aggs> FROM
  s.t GROUP BY <keys>`` parses a BOUNDED aggregate grammar (plain
  column keys or ``DATE_TRUNC('unit', col)`` — Timescale's
  ``time_bucket``; ``SUM(c)`` / ``COUNT(*)`` / ``AVG(c)``
  aggregates), stores the definition in the catalog log (next to
  persisted-view text, transactional, survives restarts), and
  bootstraps the rollup state from the source's current snapshot.
- ``REFRESH MATERIALIZED VIEW agg.mv`` merges exactly the source
  commits since the last refresh: the additive rollup rides
  ``sync_from_cdf`` (signed facts — absorbs UPDATE/DELETE/MERGE)
  when the source format records CDF, else the append-only
  ``sync_from_changes``.  Per-refresh cost is O(delta + touched
  groups); the 100 TB fact history is never rescanned.
- SELECT resolution (``sql_frontend._substitute``) serves the mv
  name as the DERIVED presentation (means from sum/count — AVG of
  AVGs is wrong under merge) with the user's aliases.
  ``REALTIME`` definitions additionally union the not-yet-refreshed
  source tail (Timescale real-time continuous aggregates) via
  ``read_realtime``.

State storage: ``<name>__mvstate`` — a real warehouse table holding
the rollup's internal columns (``sum_*``/``nn_*``/``n_rows`` +
``__agg_key``), with the exactly-once batch-id cursor in its commit
(see ``_RollupSyncBase``).  The mv NAME is
never a table, so DML statements that target it refuse loudly.

Anything outside the grammar refuses naming the canonical form —
JOIN/WHERE/HAVING belong in the SELECT reading the mv (or in a plain
persisted VIEW layered over it), non-additive aggregates
(COUNT(DISTINCT), percentiles) belong to the sketch-rollup Python
API (``IncrementalDistinctSync`` / ``IncrementalHistSync``), whose
estimates are approximate and therefore not silently substitutable
for exact SQL semantics.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_TBL = r"[A-Za-z_][\w]*\.[A-Za-z_][\w]*"
_ID = r"[A-Za-z_][\w]*"

#: date_trunc units the key grammar accepts (Spark and DuckDB share
#: these; 'week' is Monday-aligned in both — the Timescale origin the
#: engine already pins for its bucketing functions)
_TRUNC_UNITS = ("year", "quarter", "month", "week", "day", "hour", "minute")

STATE_SUFFIX = "__mvstate"

#: state tables are ``<name>__mvstate`` (first definition) or
#: ``<name>__mvstateN`` (Nth redefinition — OR REPLACE bootstraps the
#: new state FIRST and repoints the definition in one catalog flip,
#: so readers always resolve a consistent defn+state pair)
_STATE_RE = re.compile(r"__mvstate\d*$")


def is_state_table(name: str) -> bool:
    return _STATE_RE.search(name) is not None


def state_table_for(name: str, defn: dict) -> str:
    return defn.get("state") or name + STATE_SUFFIX


def next_state_table(name: str, old_defn: dict | None) -> str:
    if old_defn is None:
        return name + STATE_SUFFIX
    old = state_table_for(name, old_defn)
    m = re.search(r"__mvstate(\d*)$", old)
    n = int(m.group(1) or 0) + 1
    return f"{name}{STATE_SUFFIX}{n}"


class MatviewParseError(ValueError):
    pass


def _split_top(text: str) -> list[str]:
    """Split on commas not inside parens/quotes."""
    depth, q, start, parts = 0, False, 0, []
    for i, ch in enumerate(text):
        if ch == "'":
            q = not q
        elif not q and ch == "(":
            depth += 1
        elif not q and ch == ")":
            depth -= 1
        elif not q and ch == "," and depth == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def parse_matview_body(body: str) -> dict:
    """``SELECT <items> FROM <tbl> GROUP BY <keys>`` -> definition
    dict (JSON-serializable; stored in the catalog log).  Refusals
    name the canonical form."""
    m = re.fullmatch(
        rf"SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<src>{_TBL})"
        rf"\s+GROUP\s+BY\s+(?P<gb>.+)",
        body.strip().rstrip(";").strip(),
        re.I | re.S,
    )
    if not m:
        raise MatviewParseError(
            "materialized views take the canonical form CREATE "
            "MATERIALIZED VIEW s.mv AS SELECT <keys>, <aggs> FROM "
            "s.table GROUP BY <keys> — one source table, no "
            "WHERE/JOIN/HAVING (filter in the SELECT reading the mv, "
            "or layer a plain VIEW over it)"
        )
    keys: list[dict] = []
    aggs: list[dict] = []
    for item in _split_top(m.group("items")):
        km = re.fullmatch(
            rf"(?P<col>{_ID})(?:\s+AS\s+(?P<alias>{_ID}))?", item, re.I
        )
        if km:
            keys.append(
                {
                    "alias": km.group("alias") or km.group("col"),
                    "spec": {"kind": "col", "col": km.group("col")},
                }
            )
            continue
        tm = re.fullmatch(
            rf"DATE_TRUNC\s*\(\s*'(?P<unit>{_ID})'\s*,\s*(?P<col>{_ID})"
            rf"\s*\)\s+AS\s+(?P<alias>{_ID})",
            item,
            re.I,
        )
        if tm:
            unit = tm.group("unit").lower()
            if unit not in _TRUNC_UNITS:
                raise MatviewParseError(
                    f"DATE_TRUNC unit {unit!r} unsupported — one of "
                    f"{_TRUNC_UNITS}"
                )
            keys.append(
                {
                    "alias": tm.group("alias"),
                    "spec": {
                        "kind": "date_trunc",
                        "unit": unit,
                        "col": tm.group("col"),
                    },
                }
            )
            continue
        am = re.fullmatch(
            rf"(?P<fn>SUM|AVG|COUNT)\s*\(\s*(?P<arg>\*|{_ID})\s*\)"
            rf"\s+AS\s+(?P<alias>{_ID})",
            item,
            re.I,
        )
        if am:
            fn, arg = am.group("fn").lower(), am.group("arg")
            if fn == "count" and arg != "*":
                raise MatviewParseError(
                    "COUNT(col) is not maintained — COUNT(*) is; a "
                    "non-null count is SUM(CASE ...) in the source or "
                    "a Python-API rollup"
                )
            if fn in ("sum", "avg") and arg == "*":
                raise MatviewParseError(f"{fn.upper()}(*) is not SQL")
            aggs.append(
                {
                    "alias": am.group("alias"),
                    "fn": fn,
                    "col": None if arg == "*" else arg,
                }
            )
            continue
        raise MatviewParseError(
            f"unsupported select item {item!r}: plain column [AS a] | "
            "DATE_TRUNC('unit', col) AS a | SUM(col) AS a | AVG(col) "
            "AS a | COUNT(*) AS a.  COUNT(DISTINCT)/percentiles are "
            "sketch rollups — use the Python API "
            "(IncrementalDistinctSync / IncrementalHistSync), whose "
            "estimates are explicit, not silent substitutes"
        )
    if not keys:
        raise MatviewParseError(
            "at least one group key is required (a global aggregate "
            "is a one-row SELECT, not a maintained view)"
        )
    if not aggs:
        raise MatviewParseError("at least one aggregate is required")
    aliases = [k["alias"] for k in keys] + [a["alias"] for a in aggs]
    if len(set(a.lower() for a in aliases)) != len(aliases):
        raise MatviewParseError(f"duplicate output aliases in {aliases}")
    # the rollup's fact projection carries key aliases AND raw agg
    # source columns side by side — a shared name would be ambiguous
    key_aliases = {k["alias"].lower() for k in keys}
    for a in aggs:
        if a["col"] is not None and a["col"].lower() in key_aliases:
            raise MatviewParseError(
                f"{a['fn'].upper()}({a['col']}) source column shares a "
                "name with a group-key output — alias the key "
                "differently (GROUP BY k AS grp, SUM(k) AS total)"
            )
    # GROUP BY entries must be the key aliases or their source columns
    gb = [g.strip() for g in _split_top(m.group("gb"))]
    ok_names = {k["alias"].lower() for k in keys} | {
        k["spec"]["col"].lower() for k in keys if k["spec"]["kind"] == "col"
    }
    trunc_keys = {
        (k["spec"]["unit"], k["spec"]["col"].lower())
        for k in keys
        if k["spec"]["kind"] == "date_trunc"
    }
    # positional GROUP BY 1, 2 ... resolves against the key positions
    for i, g in enumerate(gb):
        if g.isdigit():
            if int(g) != i + 1 or int(g) > len(keys):
                raise MatviewParseError(
                    "positional GROUP BY must list the leading key "
                    "items in order (GROUP BY 1, 2, ...)"
                )
            continue
        if g.lower() in ok_names:
            continue
        tm = re.fullmatch(
            rf"DATE_TRUNC\s*\(\s*'(?P<unit>{_ID})'\s*,\s*"
            rf"(?P<col>{_ID})\s*\)",
            g,
            re.I,
        )
        # a DATE_TRUNC entry must name the SAME unit+column as a
        # select-list key — accepting any trunc text would silently
        # maintain the rollup at a different grain than the SQL states
        if tm and (
            tm.group("unit").lower(),
            tm.group("col").lower(),
        ) in trunc_keys:
            continue
        raise MatviewParseError(
            f"GROUP BY entry {g!r} does not match a select-list "
            "key (group keys and select keys must agree — that is "
            "what makes the rollup mergeable)"
        )
    if len(gb) != len(keys):
        raise MatviewParseError(
            f"GROUP BY lists {len(gb)} entries but the select list "
            f"has {len(keys)} key items — they must agree"
        )
    return {"source": m.group("src"), "keys": keys, "aggs": aggs}


def validate_defn(defn: dict, schema) -> None:
    """Refuse at CREATE, not first read: every referenced column must
    exist in the source; SUM/AVG columns must be numeric; DATE_TRUNC
    columns must be timestamp/date."""
    from pyspark.sql import types as T

    fields = {f.name.lower(): f.dataType for f in schema.fields}

    def need(col: str) -> object:
        dt = fields.get(col.lower())
        if dt is None:
            raise ValueError(
                f"column {col!r} does not exist in the source table "
                f"(columns: {sorted(fields)})"
            )
        return dt

    for k in defn["keys"]:
        dt = need(k["spec"]["col"])
        if k["spec"]["kind"] == "date_trunc" and not isinstance(
            dt, (T.TimestampType, T.TimestampNTZType, T.DateType)
        ):
            raise ValueError(
                f"DATE_TRUNC key column {k['spec']['col']!r} is "
                f"{dt.simpleString()}, not a timestamp/date"
            )
    for a in defn["aggs"]:
        if a["col"] is None:
            continue
        dt = need(a["col"])
        if not isinstance(dt, T.NumericType):
            raise ValueError(
                f"{a['fn'].upper()}({a['col']}) needs a numeric "
                f"column, got {dt.simpleString()} — additive rollup "
                "state is sums"
            )


def _key_exprs(defn: dict):
    from pyspark.sql import functions as F

    out = []
    for k in defn["keys"]:
        spec = k["spec"]
        if spec["kind"] == "col":
            out.append((k["alias"], F.col(spec["col"])))
        elif spec["kind"] == "date_trunc":
            out.append(
                (k["alias"], F.date_trunc(spec["unit"], F.col(spec["col"])))
            )
        else:  # pragma: no cover - definitions come from the parser
            raise ValueError(f"unknown key spec {spec!r}")
    return out


def _sum_cols(defn: dict) -> list[str]:
    cols, seen = [], set()
    for a in defn["aggs"]:
        if a["fn"] in ("sum", "avg") and a["col"] not in seen:
            seen.add(a["col"])
            cols.append(a["col"])
    return cols


class _MatviewAggSync:
    """Thin composition over ``IncrementalAggSync``: project the
    definition's key EXPRESSIONS onto each fact batch before the
    additive rollup sees it, so every maintenance path (bootstrap,
    append feed, signed CDF feed, streaming micro-batches) aggregates
    by the mv's derived keys.  Composition, not subclassing: the only
    seam needed is "project, then sync"."""

    def __init__(self, wh, defn: dict, state_table: str):
        from .pipeline import IncrementalAggSync

        self.defn = defn
        self.keys = _key_exprs(defn)
        self.sums = _sum_cols(defn)
        self.sync_impl = IncrementalAggSync(
            wh.spark,
            wh.root,
            state_table,
            tuple(a for a, _ in self.keys),
            tuple(self.sums),
            table_format=wh.fmt,
        )
        # intercept the batch on its way into the rollup — covers
        # sync_from_changes/sync_from_cdf bootstrap AND delta paths
        inner_sync = self.sync_impl.sync

        def projected_sync(batch: DataFrame, batch_id=None, _meta=None):
            return inner_sync(
                self._project(batch), batch_id=batch_id, _meta=_meta
            )

        self.sync_impl.sync = projected_sync

    def _project(self, batch: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        cols = [e.alias(a) for a, e in self.keys]
        cols += [F.col(c) for c in self.sums]
        if "__sign" in batch.columns:
            cols.append(F.col("__sign"))
        return batch.select(*cols)

    def refresh(self, fmt, source: str) -> DataFrame:
        if getattr(fmt, "cdf", False):
            return self.sync_impl.sync_from_cdf(fmt, source)
        return self.sync_impl.sync_from_changes(fmt, source)

    def maintain_stream(self, fmt, source: str, checkpoint: str, **kw):
        """CONTINUOUS maintenance: the mv rides the ``warehouse_cdf``
        readStream exactly like the Python-API rollups
        (``_RollupSyncBase.maintain_stream`` — same source-version
        cursor as ``refresh``, so the two cadences interleave safely).
        The key-expression projection wraps the micro-batch sync path,
        so streamed batches aggregate by the mv's derived keys too."""
        return self.sync_impl.maintain_stream(fmt, source, checkpoint, **kw)

    def _present(self, rolled: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        cols = [F.col(a) for a, _ in self.keys]
        for a in self.defn["aggs"]:
            src = {
                "sum": f"sum_{a['col']}",
                "avg": f"avg_{a['col']}",
                "count": "n_rows",
            }[a["fn"]]
            cols.append(F.col(src).alias(a["alias"]))
        return rolled.select(*cols)

    def read(self) -> DataFrame:
        return self._present(self.sync_impl.read())

    def read_realtime(self, fmt, source: str) -> DataFrame:
        """Timescale REAL-TIME continuous aggregate: stored rollup
        merged on the fly with the source commits SINCE the last
        refresh — fresh answers between refreshes, nothing written.
        The tail arrives as signed facts on a CDF source (absorbs
        upserting tails) or plain appends otherwise; a feed refusal
        (history rewritten on a non-CDF source) propagates loudly —
        REFRESH cannot absorb it either."""
        from pyspark.sql import functions as F

        applied = self.sync_impl._applied_batch_id()
        m = fmt._manifest(source)
        cur = None if m is None else int(m["version"])
        if applied is None or cur is None or cur == int(applied):
            return self.read()
        if getattr(fmt, "cdf", False):
            feed = fmt.read_changes_cdf(source, int(applied), cur)
            tail = feed.withColumn(
                "__sign",
                F.when(
                    F.col("_change_type").isin(
                        "insert", "update_postimage"
                    ),
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            ).drop("_change_type", "_commit_version")
        else:
            tail = fmt.read_changes(source, int(applied), cur)
        # read_realtime aggregates the tail itself (no sync) — apply
        # the same key-expression projection the sync path gets
        return self._present(
            self.sync_impl.read_realtime(self._project(tail))
        )


def matview_sync(wh, name: str, defn: dict) -> _MatviewAggSync:
    state = state_table_for(name, defn)
    if not wh.exists(state):
        raise ValueError(
            f"materialized view {name} has no state table ({state}) — "
            "its bootstrap did not complete; REFRESH MATERIALIZED VIEW "
            f"{name} rebuilds it, or DROP MATERIALIZED VIEW {name}"
        )
    return _MatviewAggSync(wh, defn, state)


def matview_sync_unchecked(wh, name: str, defn: dict) -> _MatviewAggSync:
    """CREATE/REFRESH path: the state table may not exist yet (the
    rollup bootstraps it on first sync)."""
    return _MatviewAggSync(wh, defn, state_table_for(name, defn))
