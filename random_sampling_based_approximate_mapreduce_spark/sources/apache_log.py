"""Apache combined-log source: deterministic synthesis + schema-on-read parse
+ the reference's 7 log-analysis tasks.

The reference parses raw Apache combined-format lines positionally inside a
mapper (RandomizedApacheLogAnalysis.java:34-47) and dispatches 7 tasks
(hack/host/dateweek/size/totalsize/pagesize/page, dispatch at :54-111).

Our engine does the same schema-on-read as null-safe column expressions
(P6/P7): one ``regexp_extract`` per field, malformed lines -> null -> drop
(PERMISSIVE semantics, reference :113-115). Parsing is whole-stage-codegen
JVM work — no Python in the loop — and because the parse is a projection
over a single string column, sampling composes BELOW it (SampledFrame on
the raw lines, parse after: the 40x-speedup trick of the reference's
sampling reader, SURVEY.md §4.1).

``synthesize_raw_log`` derives a deterministic log line per ``events`` row
so correctness is oracle-checkable: the DuckDB oracle computes each task
directly from ``events`` with the same arithmetic, while the engine goes
the long way — format a raw line, parse it back, aggregate — proving the
parser faithful (tools/check_oracle.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.quoting import ident, sql_str

# The reference's 9 hack-probe path prefixes (RandomizedApacheLogAnalysis.java:61-62).
HACK_PREFIXES = (
    "/w00tw00t",
    "/phpMyAdmin",
    "/pma",
    "/myadmin",
    "/MyAdmin",
    "/phpTest",
    "/cgi-bin/php",
    "/cgi-bin/php5",
    "/cgi-bin/php-cgi",
)

# Concrete probe paths synthesized onto 'error' events (indexed by event_id % 9).
HACK_PATHS = (
    "/w00tw00t/attack",
    "/phpMyAdmin/index.php",
    "/pma/setup.php",
    "/myadmin/scripts",
    "/MyAdmin/admin.php",
    "/phpTest/zologize",
    "/cgi-bin/php",
    "/cgi-bin/php5",
    "/cgi-bin/php-cgi",
)

APACHE_TS_FMT = "dd/MMM/yyyy:HH:mm:ss Z"

# Combined-log parse regex (field walk mirrors RandomizedApacheLogAnalysis.java:34-47).
_LOG_RE = r'^(\S+) \S+ \S+ \[([^\]]+)\] "(\S+) (\S+) ([^"]+)" (\d{3}) (\S+)'
# P11: the request split into path and query string
_PATH_RE = r"^([^?]*)"
_QUERY_RE = r"\?(.*)$"

_HACK_ARRAY_SQL = "array(" + ", ".join(sql_str(p) for p in HACK_PATHS) + ")"

# One synthesized log line per events row, as Spark SQL: the deterministic
# field derivations mirrored in ``ORACLE_ACCESS_LOG_CTE`` (keep in sync),
# formatted as an Apache combined-log line.
_LINE_SQL = f"""format_string(
  {sql_str('%s - - [%s] "%s %s%s HTTP/1.1" %d %d')},
  concat('host-', CAST(user_id % 50 AS STRING)),
  date_format(ts, {sql_str(APACHE_TS_FMT)}),
  CASE WHEN event_type IN ('purchase', 'signup') THEN 'POST' ELSE 'GET' END,
  CASE WHEN event_type = 'error' AND event_id % 7 < 3
       THEN element_at({_HACK_ARRAY_SQL}, CAST(event_id % 9 + 1 AS INT))
       ELSE concat('/page/', event_type, '/', CAST(event_id % 20 AS STRING)) END,
  CASE WHEN event_id % 5 = 0 THEN concat('?q=', CAST(user_id AS STRING)) ELSE '' END,
  CAST(CASE WHEN event_type = 'error' THEN CASE WHEN event_id % 2 = 0 THEN 404 ELSE 500 END
            WHEN event_type = 'purchase' THEN 201
            ELSE 200 END AS INT),
  CAST(floor(value * 37) + 100 AS BIGINT))"""


def synthesize_raw_log(events: DataFrame) -> DataFrame:
    """events -> DataFrame[line: string] of Apache combined-format lines.

    Built as one JVM-parsed SQL projection, like every builder in this
    module: each ``pyspark.sql.functions`` call would be a py4j round trip
    (see docs/SCALE.md, "Plan build")."""
    return events.selectExpr(f"{_LINE_SQL} AS line")


def _field(col: str, group: int) -> str:
    return f"regexp_extract({col}, {sql_str(_LOG_RE)}, {group})"


def parse_apache_log(
    raw: DataFrame, col: str = "line", keep: tuple[str, ...] = ()
) -> DataFrame:
    """Raw lines -> typed access_log frame; malformed lines dropped (P7).

    Schema: host, ts, method, path (query stripped, P11), query, proto,
    status, bytes. ``keep`` names input columns carried through unchanged
    (e.g. a cluster/provenance id), so per-partition oracles can group
    parsed fields by origin without re-deriving the parse.

    Plan shape: the three fields the malformed-line check reads (host,
    ts, status) come out of one ``inline(array(struct(...)))`` Generate
    that also carries the raw line; the check filters above it, and the
    other fields are derived from the carried line above the filter. A
    filter on a Generate's output cannot be pushed below it, so the
    line's own expression (under ``access_log``, the synthesized
    ``format_string``) runs once per row, after any exchange beneath,
    rather than once per field read. Fields no consumer reads are pruned;
    the rest run only on rows that passed the check.

    ANSI: no filter guards the struct's fields, and a non-matching line
    extracts ``''`` for every group, so each field is null-safe on its
    own (``try_to_timestamp``, ``TRY_CAST``); on a matching line
    ``TRY_CAST`` of the three-digit status group equals ``CAST``. See
    docs/SCALE.md, "Log parse".

    Also measured: a regex-free positional parse (substring_index chains)
    benches the same or slightly slower (2.8-3.6s vs 2.3-2.6s warm at
    sf0.1): the cost is try_to_timestamp, not regex matching.
    """
    kept = [ident(k) for k in keep]
    # the raw line under a private name, so ``keep`` may hold ``col`` itself
    c, line = ident(col), "__log_line"
    checked = raw.selectExpr(
        *kept,
        f"""inline(array(struct(
          nullif({_field(c, 1)}, '') AS host,
          try_to_timestamp({_field(c, 2)}, {sql_str(APACHE_TS_FMT)}) AS ts,
          TRY_CAST({_field(c, 6)} AS INT) AS status,
          {c} AS {line})))""",
    ).where("host IS NOT NULL AND ts IS NOT NULL AND status IS NOT NULL")
    request = _field(line, 4)
    return checked.selectExpr(
        *kept,
        "host",
        "ts",
        f"{_field(line, 3)} AS method",
        # P11: path = request sans query string
        f"regexp_extract({request}, {sql_str(_PATH_RE)}, 1) AS path",
        f"nullif(regexp_extract({request}, {sql_str(_QUERY_RE)}, 1), '') AS query",
        f"{_field(line, 5)} AS proto",
        "status",
        # non-numeric bytes field ('-') -> null via TRY_CAST (ANSI-safe),
        # like the reference's permissive drop
        f"TRY_CAST({_field(line, 7)} AS BIGINT) AS bytes",
    )


def access_log(events: DataFrame) -> DataFrame:
    """The full round-trip: synthesize raw lines, parse them back.

    Synthesis (date_format) and parse (7 regexp matches/line) are both
    CPU-bound projections, and projections are never pushed below an
    exchange — so spread the INPUT across cores first and both run
    parallel (no-op when the scan already has enough partitions; see
    sources.tables.ensure_parallelism).
    """
    from .tables import ensure_parallelism

    return parse_apache_log(synthesize_raw_log(ensure_parallelism(events)))


# --- the 7 tasks (RandomizedApacheLogAnalysis.java:54-111) -----------------


_COUNT = "count(1) AS cnt"
_BYTES = "sum(bytes) AS total_bytes"


def task_hack(log: DataFrame) -> DataFrame:
    """P8+G3: hack-probe requests counted per host."""
    probe = sql_str("^(" + "|".join(HACK_PREFIXES) + ")")
    return log.where(f"path RLIKE {probe}").groupBy("host").agg(F.expr(_COUNT))


def task_host(log: DataFrame) -> DataFrame:
    return log.groupBy("host").agg(F.expr(_COUNT))


def task_dateweek(log: DataFrame) -> DataFrame:
    """P9+G3: requests per (day-of-week, hour) bucket 'EEE HH'."""
    return (
        log.selectExpr("date_format(ts, 'EEE HH') AS dateweek")
        .groupBy("dateweek")
        .agg(F.expr(_COUNT))
    )


def task_size(log: DataFrame) -> DataFrame:
    """P10+G3: response sizes histogrammed to 100-byte buckets."""
    return (
        log.selectExpr("CAST(floor(bytes / 100) * 100 AS BIGINT) AS size_bucket")
        .groupBy("size_bucket")
        .agg(F.expr(_COUNT))
    )


def task_totalsize(log: DataFrame) -> DataFrame:
    """P12+G4: global byte sum (the reference's constant-'Total'-key trick
    becomes a plain global aggregate)."""
    return log.agg(F.expr(_BYTES))


def task_pagesize(log: DataFrame) -> DataFrame:
    return log.groupBy("path").agg(F.expr(_BYTES))


def task_page(log: DataFrame) -> DataFrame:
    return log.groupBy("path").agg(F.expr(_COUNT))


LOG_TASKS = {
    "hack": task_hack,
    "host": task_host,
    "dateweek": task_dateweek,
    "size": task_size,
    "totalsize": task_totalsize,
    "pagesize": task_pagesize,
    "page": task_page,
}

# ---------------------------------------------------------------------------
# DuckDB oracle: the same derivations, straight from events (keep in sync
# with _LINE_SQL). Used as a WITH-prefix by catalog oracle queries.
# ---------------------------------------------------------------------------

_HACK_LIST_SQL = "[" + ", ".join(f"'{p}'" for p in HACK_PATHS) + "]"

ORACLE_ACCESS_LOG_CTE = f"""
WITH access_log AS (
  SELECT
    'host-' || (user_id % 50) AS host,
    ts,
    CASE WHEN event_type IN ('purchase','signup') THEN 'POST' ELSE 'GET' END AS method,
    CASE WHEN event_type = 'error' AND event_id % 7 < 3
         THEN {_HACK_LIST_SQL}[(event_id % 9) + 1]
         ELSE '/page/' || event_type || '/' || (event_id % 20)
    END AS path,
    CASE WHEN event_type = 'error' THEN (CASE WHEN event_id % 2 = 0 THEN 404 ELSE 500 END)
         WHEN event_type = 'purchase' THEN 201
         ELSE 200 END AS status,
    (floor(value * 37))::BIGINT + 100 AS bytes
  FROM events
)
"""
