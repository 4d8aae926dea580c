"""Maintenance SQL dialect — the Delta-utility statements reference users run.

The reference operates its tables with Databricks SQL utilities (OPTIMIZE /
VACUUM / RESTORE / DESCRIBE HISTORY / ALTER TABLE CLUSTER BY; e.g.
`utilities/post_setup_ocsf_tables.py` issues ALTER ... CLUSTER BY). Queries
and DML stay in Spark SQL over scan views; this module covers the
table-maintenance statements the engine owns:

    OPTIMIZE <tbl> [WHERE <conjunction>]
    OPTIMIZE <tbl> ZORDER BY (conv_col[, turn_col[, ts_col]]) [WHERE ...]
    OPTIMIZE <tbl> HILBERT BY (conv_col[, turn_col[, ts_col]]) [WHERE ...]
        WHERE scopes the maintenance to the partitions the predicate's
        pruned file set touches (Delta predicate-scoped OPTIMIZE)
    EXPLAIN ESTIMATE <tbl> [WHERE <conjunction>]
        the cost planner's view: files surviving metadata pruning +
        ANALYZE-backed row/byte estimates and shuffle sizing
    DELETE FROM <tbl> WHERE <conjunction>
        where each term is col {=|<|<=|>|>=} literal | col IN (lit, ...)
        | col IS [NOT] NULL; literals are 'str', numbers, TIMESTAMP '<iso>'
        or DATE '<iso>'
    DELETE FROM <tbl> BY KEYS (<select-query>)
        Iceberg v2 equality delete: the Spark SQL subquery's result columns
        are the key; matching pre-delete rows disappear without any data
        file being read or written (O(keys) commit)
    UPSERT INTO <tbl> BY KEYS (c1[, ...]) FROM (<select-query>)
        atomic row-delta: the subquery's rows are appended AND their keys
        equality-deleted from pre-existing data in ONE snapshot —
        last-writer-wins at O(batch) cost, no target rows read
    MERGE INTO <tbl> [AS t] USING (<select-query>)|<view> [AS s]
        ON t.k1 = s.k1 [AND ...]
        WHEN MATCHED [AND <cond>] THEN
            UPDATE SET * | UPDATE SET c = <expr>[, ...] | DELETE
        [WHEN NOT MATCHED [AND <cond>] THEN INSERT *]
        the Databricks/Delta upsert statement, dispatched to MergeIntoJob
        (manifest-scoped copy-on-write rewrite). UPDATE SET * replaces the
        matched row with the source row; per-column SET expressions see the
        matched pair (qualify refs with t./s.); AND-conditions gate each
        clause — unmet matched rows are kept verbatim, unmet source rows
        are not inserted. Insert-only MERGE (no WHEN MATCHED) is accepted.
    UPDATE <tbl> SET col = <sql-expr>[, ...] [WHERE <conjunction>]
        right-hand sides are Spark SQL expressions over the OLD row values
    VACUUM <tbl> [RETAIN <n> HOURS]
        retention-duration check (Delta semantics): RETAIN below
        'vacuum.min-retention-hours' (default 168) is refused unless
        'vacuum.retention-check.enabled'='false'; bare VACUUM uses the
        minimum as its grace period
    EXPIRE SNAPSHOTS <tbl> [OLDER THAN '<iso-ts>'] [KEEP LAST <n>]
        age-based snapshot retention (Iceberg expire_snapshots): only
        snapshots committed before the cutoff expire; KEEP LAST (default 3)
        is the retained floor. Refs created with RETAIN <n> DAYS age out in
        the same commit once abandoned past their retention.
    MAINTAIN <tbl>
        managed pass (pipelines.autoOptimize.managed analogue): compact,
        cluster iff cluster keys are set and data arrived since the last
        clustering, then expire/GC per the table's retention properties,
        then refresh every materialized view whose source is this table
    RESTORE TABLE <tbl> TO VERSION AS OF <n>
    RESTORE TABLE <tbl> TO TIMESTAMP AS OF '<iso-ts>'
    DESCRIBE HISTORY <tbl>
    SHOW CREATE TABLE <tbl>
        round-trippable DDL (columns, PARTITIONED BY transforms,
        TBLPROPERTIES, + ALTER ... CLUSTER BY when cluster keys are set)
    TABLE CHANGES <tbl> FROM VERSION <n> [TO VERSION <m>]
        row-level change feed (_change_type/_commit_snapshot_id) after
        snapshot n (exclusive) up to m (inclusive; default current)
    REWRITE DELETES <tbl>
        coalesce positional-delete (DV) files + drop dangling delete rows,
        and convert equality deletes to positional marks
    ANALYZE TABLE <tbl> COMPUTE STATISTICS [FOR COLUMNS (c1[, ...])]
        [FOR FREQUENCY COLUMNS (k1[, ...])]
        one-pass column stats (null count, HLL NDV, min/max, avg_len)
        persisted in table metadata, stamped with the snapshot id;
        frequency columns additionally record top_count (hottest key's
        row count — the MERGE auto-salting input), one groupBy each
    DESCRIBE STATS <tbl>
        the persisted ANALYZE rows + staleness vs the current snapshot
    ALTER TABLE <tbl> ADD CONSTRAINT <name> CHECK (<expr>)
    ALTER TABLE <tbl> DROP CONSTRAINT <name>
    ALTER TABLE <tbl> CREATE BRANCH|TAG <name> [AS OF VERSION <n>]
        [RETAIN <n> DAYS]
    ALTER TABLE <tbl> DROP BRANCH|TAG <name>
    ALTER TABLE <tbl> FAST FORWARD TO <branch>
    DESCRIBE REFS <tbl>
    ALTER TABLE <tbl> ADD COLUMNS (name type[, ...])
    ALTER TABLE <tbl> DROP COLUMN <name>
    ALTER TABLE <tbl> RENAME COLUMN <old> TO <new>
    ALTER TABLE <tbl> ALTER COLUMN <col> TYPE <type>   (lossless widen)
        metadata-only schema evolution: scans pin the table schema, so
        pre-evolution files surface added columns as NULL and dropped
        columns vanish without any rewrite (bytes reclaimed as
        maintenance touches the files)
    ALTER TABLE <tbl> CLUSTER BY (c1[, ...])
    ALTER TABLE <tbl> SET TBLPROPERTIES ('k'='v'[, ...])
    ALTER TABLE <tbl> PARTITIONED BY (transform[, ...])
        where transform is days(col) | bucket(n, col) | truncate(w, col) |
        identity(col), each optionally `AS <field_name>`
    CREATE DATABASE [IF NOT EXISTS] <db>
    CREATE TABLE [IF NOT EXISTS] <db.tbl> (<col TYPE, ...>)
        [PARTITIONED BY (transform[, ...])] [TBLPROPERTIES ('k'='v'[, ...])]
    CREATE TABLE [IF NOT EXISTS] <db.tbl> [PARTITIONED BY (...)]
        [TBLPROPERTIES (...)] AS SELECT ...   (CTAS)
    CREATE TABLE [IF NOT EXISTS] <db.tbl> SHALLOW|DEEP CLONE <db.src>
        [VERSION AS OF <n> | TIMESTAMP AS OF '<iso-ts>' | AT BRANCH|TAG <r>]
        zero-copy (shallow) or full-copy (deep) table fork at a point in
        time; copy-on-write keeps the histories independent afterwards
    COPY INTO <tbl> FROM '<dir>' [FILEFORMAT = PARQUET|JSON|TEXT]
        [PATTERN = '<glob>']
        idempotent batch ingestion: loads exactly the landing files not yet
        ingested for this (table, source) pair; re-runs are no-ops
    CREATE MATERIALIZED VIEW [IF NOT EXISTS] <db.mv> AS
        SELECT k1[, ...], fn(col) AS alias[, ...] FROM <db.src>
        [WHERE <spark-sql-expr>] GROUP BY k1[, ...]
        fn in count|sum|min|max|avg|approx_count_distinct (count(*)
        allowed; approx distinct rides a mergeable HLL sketch);
        materialized as an
        engine table and kept fresh from the source's change feed at
        O(changed rows + dirty groups) — the DLT gold-table semantics
    REFRESH MATERIALIZED VIEW <db.mv> [FULL]
    INSERT INTO <tbl> SELECT ...
    DROP TABLE [IF EXISTS] <db.tbl>
    ALTER TABLE <db.tbl> RENAME TO <db.new>
        O(1) catalog-metadata rename at any table size: manifests carry
        absolute data-file paths, so the physical location never moves —
        the logical name is catalog state (format/catalog.py indirection)
    SHOW TABLES [IN <db>]
    SHOW TBLPROPERTIES <tbl> [('key')]
    DESCRIBE DETAIL <tbl>
    SELECT ... | WITH ... SELECT ...
        every FROM/JOIN reference to a catalog table — optionally with
        VERSION AS OF <snapshot-id> | TIMESTAMP AS OF '<iso-ts>' |
        AT BRANCH|TAG <name> — resolves to the engine's scan (deletion
        vectors, equality deletes, and snapshot isolation applied), then
        the query runs in Spark SQL; single-table WHERE conjuncts prune
        data files via manifest stats before Catalyst sees the scan. The
        same resolution applies inside INSERT INTO / CTAS / MERGE USING /
        DELETE BY KEYS / UPSERT subqueries.

Statements are parsed with anchored regexes (this is a fixed utility grammar,
not a general SQL engine) and dispatched to the corresponding maintenance
job / Table DDL. `run_sql` returns the job's result object, or a DataFrame
for DESCRIBE HISTORY.

The Z-order/Hilbert column list maps positionally onto the engine's three
curve dimensions (conversation id, turn index, timestamp); omitted trailing
columns keep their defaults.
"""

from __future__ import annotations

import datetime
import re
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .format.catalog import Catalog
from .format.partition import (
    PartitionField, PartitionSpec, bucket, days, identity, truncate,
)
from .format.table import Table
from .operators.clustering import ClusteringJob
from .operators.compaction import CompactionJob
from .operators.delete import DeleteJob
from .operators.expire import ExpireSnapshotsJob
from .operators.update import UpdateJob
from .session import local_frame

_ID = r"[A-Za-z_][\w.$-]*"


def _parse_sql_timestamp_ms(ts: str) -> int:
    """'2026-01-01 12:00:00' / ISO-8601 -> epoch millis (naive = UTC)."""
    dt = datetime.datetime.fromisoformat(ts.replace(" ", "T", 1))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    return int(dt.timestamp() * 1000)


def _cols(s: str) -> list[str]:
    return [c.strip().strip("`") for c in s.split(",") if c.strip()]


_TRANSFORM_RE = re.compile(
    rf"(?P<fn>days|bucket|truncate|identity)\s*\(\s*(?P<args>[^)]*)\)"
    rf"(?:\s+AS\s+(?P<alias>{_ID}))?\s*$",
    re.IGNORECASE,
)


def _parse_transform(s: str) -> PartitionField:
    m = _TRANSFORM_RE.match(s.strip())
    if not m:
        raise ValueError(f"unparseable partition transform: {s!r}")
    fn = m.group("fn").lower()
    args = _cols(m.group("args"))
    alias = m.group("alias")
    if fn == "days":
        (col,) = args
        return days(alias or f"{col}_day", col)
    if fn == "identity":
        (col,) = args
        return identity(alias or col, col)
    n, col = int(args[0]), args[1]
    if fn == "bucket":
        return bucket(alias or f"{col}_bucket", col, n)
    return truncate(alias or f"{col}_trunc", col, n)


def _split_top_level(s: str) -> list[str]:
    """Split on commas not inside parentheses (for transform lists)."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return [p.strip() for p in out if p.strip()]


_TERM_RE = re.compile(
    rf"(?P<col>{_ID})\s*(?:"
    rf"(?P<cmp>=|<=|>=|<|>)\s*(?P<lit>.+)"
    rf"|(?P<in>IN)\s*\((?P<list>[^)]+)\)"
    rf"|IS\s+(?P<not>NOT\s+)?NULL"
    rf")\s*$",
    re.IGNORECASE,
)


def _parse_literal(s: str):
    s = s.strip()
    m = re.match(r"(?i)(TIMESTAMP|DATE)\s*'([^']*)'$", s)
    if m:
        v = datetime.datetime.fromisoformat(m.group(2).replace(" ", "T", 1))
        return v.date() if m.group(1).upper() == "DATE" else v
    if len(s) >= 2 and s[0] == "'" and s[-1] == "'":
        return s[1:-1]
    try:
        return int(s)
    except ValueError:
        return float(s)


def _split_on_and(s: str) -> list[str]:
    """Split a WHERE body on top-level AND (outside quotes AND parentheses).

    Paren-awareness is a soundness requirement, not cosmetics: splitting
    inside ``NOT (a = 1 AND b = 2 AND c = 3)`` would yield a clean-looking
    middle term ``b = 2`` that _select_pushdown would claim as a pruning
    predicate — but the NOT-group is satisfied by rows with b != 2, so
    pruning on it silently drops rows. Kept whole, the group fails _TERM_RE
    and is skipped (SELECT pushdown) or rejected loudly (DELETE/UPDATE)."""
    out, cur, in_q, depth = [], [], False, 0
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "'":
            in_q = not in_q
        elif not in_q and ch == "(":
            depth += 1
        elif not in_q and ch == ")":
            depth -= 1
        if not in_q and depth == 0 and s[i:i + 3].upper() == "AND" \
                and (i == 0 or s[i - 1].isspace()) \
                and (i + 3 >= n or s[i + 3].isspace()):
            out.append("".join(cur))
            cur = []
            i += 3
            continue
        cur.append(ch)
        i += 1
    out.append("".join(cur))
    return [p.strip() for p in out if p.strip()]


def parse_where(body: str) -> list[tuple]:
    """WHERE conjunction -> the engine's predicate triples (plans/pruning.py)."""
    preds = []
    for term in _split_on_and(body):
        m = _TERM_RE.match(term)
        if not m:
            raise ValueError(f"unparseable DELETE term: {term!r}")
        col = m.group("col")
        if m.group("cmp"):
            preds.append((col, m.group("cmp"), _parse_literal(m.group("lit"))))
        elif m.group("in"):
            preds.append((col, "in",
                          [_parse_literal(p) for p in m.group("list").split(",")]))
        else:
            preds.append((col, "isnull" if not m.group("not") else "notnull", None))
    return preds


def parse_set(body: str) -> dict[str, str]:
    """SET assignment list -> {column: sql expression} (comma split is
    parenthesis-aware; string literals containing top-level commas are not
    supported by this utility grammar)."""
    out: dict[str, str] = {}
    for part in _split_top_level(body):
        m = re.match(rf"(?P<col>{_ID})\s*=\s*(?P<expr>.+)$", part.strip(), re.S)
        if not m:
            raise ValueError(f"unparseable SET assignment: {part!r}")
        out[m.group("col")] = m.group("expr").strip()
    return out


_STATEMENTS: list[tuple[re.Pattern, str]] = [
    (re.compile(
        rf"MERGE\s+INTO\s+(?P<tbl>{_ID})"
        rf"(?:\s+(?:AS\s+)?(?!USING\b)[A-Za-z_][\w$]*)?"
        rf"\s+USING\s+(?P<rest>.+)$",
        re.IGNORECASE | re.DOTALL), "merge"),
    (re.compile(
        rf"INSERT\s+INTO\s+(?P<tbl>{_ID})\s+(?P<query>\(?\s*SELECT\s.+)$",
        re.IGNORECASE | re.DOTALL), "insert_into"),
    (re.compile(
        rf"DELETE\s+FROM\s+(?P<tbl>{_ID})\s+BY\s+KEYS\s*\((?P<query>.+)\)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL), "delete_eq"),
    (re.compile(
        rf"UPSERT\s+INTO\s+(?P<tbl>{_ID})\s+BY\s+KEYS\s*\((?P<cols>[^)]+)\)\s+"
        rf"FROM\s*\((?P<query>.+)\)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL), "upsert"),
    (re.compile(
        rf"DELETE\s+FROM\s+(?P<tbl>{_ID})\s+WHERE\s+(?P<where>.+?)\s*;?\s*$",
        re.IGNORECASE), "delete"),
    (re.compile(
        rf"UPDATE\s+(?P<tbl>{_ID})\s+SET\s+(?P<set>.+?)"
        rf"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
        re.IGNORECASE), "update"),
    (re.compile(
        rf"OPTIMIZE\s+(?P<tbl>{_ID})"
        rf"(?:\s+(?P<curve>ZORDER|HILBERT)\s+BY\s*\((?P<cols>[^)]+)\))?"
        rf"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
        re.IGNORECASE), "optimize"),
    (re.compile(
        rf"EXPLAIN\s+ESTIMATE\s+(?P<tbl>{_ID})"
        rf"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
        re.IGNORECASE), "explain_estimate"),
    (re.compile(
        rf"VACUUM\s+(?P<tbl>{_ID})(?:\s+RETAIN\s+(?P<hours>\d+(?:\.\d+)?)\s+HOURS?)?\s*;?\s*$",
        re.IGNORECASE), "vacuum"),
    (re.compile(
        rf"EXPIRE\s+SNAPSHOTS\s+(?P<tbl>{_ID})"
        rf"(?:\s+OLDER\s+THAN\s+'(?P<ts>[^']+)')?"
        rf"(?:\s+KEEP\s+LAST\s+(?P<n>\d+))?\s*;?\s*$",
        re.IGNORECASE), "expire_snapshots"),
    (re.compile(
        rf"RESTORE\s+TABLE\s+(?P<tbl>{_ID})\s+TO\s+VERSION\s+AS\s+OF\s+(?P<version>\d+)\s*;?\s*$",
        re.IGNORECASE), "restore_version"),
    (re.compile(
        rf"RESTORE\s+TABLE\s+(?P<tbl>{_ID})\s+TO\s+TIMESTAMP\s+AS\s+OF\s+"
        rf"'(?P<ts>[^']+)'\s*;?\s*$",
        re.IGNORECASE), "restore_timestamp"),
    (re.compile(
        rf"DESCRIBE\s+HISTORY\s+(?P<tbl>{_ID})\s*;?\s*$", re.IGNORECASE),
     "history"),
    (re.compile(
        rf"SHOW\s+CREATE\s+TABLE\s+(?P<tbl>{_ID})\s*;?\s*$", re.IGNORECASE),
     "show_create"),
    (re.compile(
        rf"DESCRIBE\s+FILES\s+(?P<tbl>{_ID})\s*;?\s*$", re.IGNORECASE),
     "files"),
    (re.compile(
        rf"DESCRIBE\s+PARTITIONS\s+(?P<tbl>{_ID})\s*;?\s*$", re.IGNORECASE),
     "partitions"),
    (re.compile(
        rf"DESCRIBE\s+MANIFESTS\s+(?P<tbl>{_ID})\s*;?\s*$", re.IGNORECASE),
     "manifests"),
    (re.compile(
        rf"MAINTAIN\s+(?P<tbl>{_ID})\s*;?\s*$", re.IGNORECASE), "maintain"),
    (re.compile(
        rf"ANALYZE\s+TABLE\s+(?P<tbl>{_ID})\s+COMPUTE\s+STATISTICS"
        rf"(?:\s+FOR\s+COLUMNS\s*\((?P<cols>[^)]+)\))?"
        rf"(?:\s+FOR\s+FREQUENCY\s+COLUMNS\s*\((?P<fcols>[^)]+)\))?\s*;?\s*$",
        re.IGNORECASE), "analyze"),
    (re.compile(
        rf"DESCRIBE\s+STATS\s+(?P<tbl>{_ID})\s*;?\s*$", re.IGNORECASE),
     "describe_stats"),
    (re.compile(
        rf"REWRITE\s+MANIFESTS\s+(?P<tbl>{_ID})\s*;?\s*$",
        re.IGNORECASE), "rewrite_manifests"),
    (re.compile(
        rf"REWRITE\s+DELETES\s+(?P<tbl>{_ID})\s*;?\s*$",
        re.IGNORECASE), "rewrite_deletes"),
    (re.compile(
        rf"TABLE\s+CHANGES\s+(?P<tbl>{_ID})\s+FROM\s+VERSION\s+(?P<from>\d+)"
        rf"(?:\s+TO\s+VERSION\s+(?P<to>\d+))?\s*;?\s*$",
        re.IGNORECASE), "table_changes"),
    (re.compile(
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+ADD\s+CONSTRAINT\s+"
        rf"(?P<name>[\w$-]+)\s+CHECK\s*\((?P<expr>.+)\)\s*;?\s*$",
        re.IGNORECASE), "add_constraint"),
    (re.compile(
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+DROP\s+CONSTRAINT\s+"
        rf"(?P<name>[\w$-]+)\s*;?\s*$",
        re.IGNORECASE), "drop_constraint"),
    (re.compile(
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+CREATE\s+(?P<kind>BRANCH|TAG)\s+"
        rf"(?P<name>[\w$-]+)(?:\s+AS\s+OF\s+VERSION\s+(?P<version>\d+))?"
        rf"(?:\s+RETAIN\s+(?P<retain>\d+)\s+DAYS?)?\s*;?\s*$",
        re.IGNORECASE), "create_ref"),
    (re.compile(
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+DROP\s+(?:BRANCH|TAG)\s+"
        rf"(?P<name>[\w$-]+)\s*;?\s*$",
        re.IGNORECASE), "drop_ref"),
    (re.compile(
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+FAST\s+FORWARD\s+TO\s+"
        rf"(?P<name>[\w$-]+)\s*;?\s*$",
        re.IGNORECASE), "fast_forward"),
    (re.compile(
        rf"DESCRIBE\s+REFS\s+(?P<tbl>{_ID})\s*;?\s*$", re.IGNORECASE),
     "refs"),
    (re.compile(
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+ADD\s+COLUMNS?\s*\((?P<cols>.+)\)\s*;?\s*$",
        re.IGNORECASE), "add_columns"),
    (re.compile(
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+DROP\s+COLUMN\s+(?P<col>[\w$]+)\s*;?\s*$",
        re.IGNORECASE), "drop_column"),
    (re.compile(
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+RENAME\s+COLUMN\s+"
        rf"(?P<old>[\w$]+)\s+TO\s+(?P<new>[\w$]+)\s*;?\s*$",
        re.IGNORECASE), "rename_column"),
    (re.compile(
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+ALTER\s+COLUMN\s+"
        rf"(?P<col>[\w$]+)\s+TYPE\s+(?P<typ>[\w()\s,]+?)\s*;?\s*$",
        re.IGNORECASE), "widen_column"),
    (re.compile(
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+CLUSTER\s+BY\s*\((?P<cols>[^)]+)\)\s*;?\s*$",
        re.IGNORECASE), "cluster_by"),
    (re.compile(
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+SET\s+TBLPROPERTIES\s*\((?P<props>.+)\)\s*;?\s*$",
        re.IGNORECASE), "set_properties"),
    (re.compile(
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+PARTITIONED\s+BY\s*\((?P<transforms>.+)\)\s*;?\s*$",
        re.IGNORECASE), "partitioned_by"),
]

_PROP_RE = re.compile(r"'(?P<k>[^']+)'\s*=\s*'(?P<v>[^']*)'")

# catalog-level DDL (no pre-existing table to load) — the statements the
# reference's setup scripts issue (`pre_setup_ocsf_tables.py:65,103-107,142`,
# `post_setup_ocsf_tables.py:67`)
_CATALOG_STATEMENTS: list[tuple[re.Pattern, str]] = [
    (re.compile(
        r"CREATE\s+DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<db>[\w$-]+)\s*;?\s*$",
        re.IGNORECASE), "create_database"),
    (re.compile(
        rf"CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        rf"(?P<tbl>{_ID})\s+AS\s+SELECT\s+(?P<select>.+?)\s+"
        rf"FROM\s+(?P<src>{_ID})"
        rf"(?:\s+WHERE\s+(?P<where>.+?))?"
        rf"\s+GROUP\s+BY\s+(?P<keys>[\w$,\s]+?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL), "create_matview"),
    (re.compile(
        rf"REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<tbl>{_ID})"
        rf"(?:\s+(?P<full>FULL))?\s*;?\s*$",
        re.IGNORECASE), "refresh_matview"),
    (re.compile(  # CLONE must match before CTAS / column-list CREATE TABLE
        rf"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<tbl>{_ID})\s+"
        rf"(?P<depth>SHALLOW|DEEP)\s+CLONE\s+(?P<src>{_ID})"
        rf"(?:\s+VERSION\s+AS\s+OF\s+(?P<version>\d+)"
        rf"|\s+TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)'"
        rf"|\s+AT\s+(?:BRANCH|TAG)\s+(?P<ref>[\w$-]+))?\s*;?\s*$",
        re.IGNORECASE), "clone_table"),
    (re.compile(
        rf"COPY\s+INTO\s+(?P<tbl>{_ID})\s+FROM\s+'(?P<src>[^']+)'"
        rf"(?:\s+FILEFORMAT\s*=\s*(?P<fmt>\w+))?"
        rf"(?:\s+PATTERN\s*=\s*'(?P<pattern>[^']+)')?\s*;?\s*$",
        re.IGNORECASE), "copy_into"),
    (re.compile(  # CTAS must match before the column-list form
        rf"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<tbl>{_ID})\s*"
        rf"(?:PARTITIONED\s+BY\s*\((?P<transforms>[^()]*(?:\([^()]*\)[^()]*)*)\)\s*)?"
        rf"(?:TBLPROPERTIES\s*\((?P<props>.+?)\)\s*)?"
        rf"AS\s+(?P<query>SELECT\s.+)$",
        re.IGNORECASE | re.DOTALL), "create_table_as"),
    (re.compile(
        rf"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<tbl>{_ID})\s*"
        rf"\((?P<rest>.+)$",  # balanced column list extracted by hand below
        re.IGNORECASE | re.DOTALL), "create_table"),
    (re.compile(
        rf"DROP\s+TABLE\s+(?P<if_exists>IF\s+EXISTS\s+)?(?P<tbl>{_ID})\s*;?\s*$",
        re.IGNORECASE), "drop_table"),
    (re.compile(  # catalog-level: the name changes, the location never does
        rf"ALTER\s+TABLE\s+(?P<tbl>{_ID})\s+RENAME\s+TO\s+(?P<new>{_ID})\s*;?\s*$",
        re.IGNORECASE), "rename_table"),
    (re.compile(
        r"SHOW\s+TABLES(?:\s+IN\s+(?P<db>[\w$-]+))?\s*;?\s*$",
        re.IGNORECASE), "show_tables"),
    (re.compile(
        rf"DESCRIBE\s+DETAIL\s+(?P<tbl>{_ID})\s*;?\s*$",
        re.IGNORECASE), "describe_detail"),
    (re.compile(
        rf"SHOW\s+TBLPROPERTIES\s+(?P<tbl>{_ID})"
        rf"(?:\s*\(\s*'(?P<key>[^']+)'\s*\))?\s*;?\s*$",
        re.IGNORECASE), "show_tblproperties"),
]


def _balanced_prefix(s: str, what: str) -> tuple[str, str]:
    """Split ``s`` (text following an already-consumed '(') at ITS matching
    close paren; returns (content, tail-after-close)."""
    depth = 1
    for i, ch in enumerate(s):
        depth += (ch == "(") - (ch == ")")
        if depth == 0:
            return s[:i], s[i + 1:]
    raise ValueError(f"{what}: unbalanced parentheses")


_MV_AGG_RE = re.compile(
    r"(?P<fn>count|sum|min|max|avg|approx_count_distinct)"
    r"\s*\(\s*(?P<arg>\*|[\w$]+)\s*\)\s+"
    r"AS\s+(?P<alias>[\w$]+)\s*$", re.IGNORECASE)

_MV_BUCKET_RE = re.compile(
    r"time_bucket\s*\(\s*(?P<n>\d+)\s*,\s*(?P<col>[\w$]+)\s*\)\s+"
    r"AS\s+(?P<alias>[\w$]+)\s*$", re.IGNORECASE)


def _parse_matview_defn(select: str, keys: str, where: str | None):
    """``SELECT k1, fn(col) AS a, ... GROUP BY k1`` -> MatViewDefn. Bare
    select items must be group keys; every aggregate needs an alias (the
    view's physical column name). ``time_bucket(seconds, ts_col) AS alias``
    declares a continuous-aggregate bucket key — reference the ALIAS in
    GROUP BY."""
    from .operators.matview import Agg, Bucket, MatViewDefn

    group_keys = tuple(_cols(keys))
    aggs, buckets = [], []
    for item in _split_top_level(select):
        item = item.strip()
        am = _MV_AGG_RE.match(item)
        bm = _MV_BUCKET_RE.match(item)
        if am:
            fn, arg = am.group("fn").lower(), am.group("arg")
            aggs.append(Agg("count_star" if (fn, arg) == ("count", "*")
                            else fn,
                            None if arg == "*" else arg,
                            am.group("alias")))
        elif bm:
            buckets.append(Bucket(bm.group("alias"), bm.group("col"),
                                  int(bm.group("n"))))
        elif re.match(r"[\w$]+$", item):
            if item not in group_keys:
                raise ValueError(
                    f"materialized-view select column {item!r} is neither "
                    "an aggregate nor a GROUP BY key")
        else:
            raise ValueError(
                "materialized-view select items must be group keys, "
                "time_bucket(seconds, col) AS alias, or "
                f"count|sum|min|max|avg(col) AS alias, got: {item!r}")
    return MatViewDefn(group_keys=group_keys, aggs=tuple(aggs),
                       filter=where.strip() if where else None,
                       buckets=tuple(buckets))


def _dispatch_catalog(action: str, catalog: Catalog, m: re.Match) -> Any:
    if action == "create_database":
        catalog.create_database(m.group("db"))
        return None
    if action == "clone_table":
        from .format.clone import clone_table

        name = m.group("tbl")
        if "IF NOT EXISTS" in m.string.upper() and catalog.table_exists(name):
            return catalog.load_table(name)
        src = catalog.load_table(m.group("src"))
        kw: dict[str, Any] = {}
        if m.group("version"):
            kw["snapshot_id"] = int(m.group("version"))
        elif m.group("ts"):
            kw["as_of_timestamp_ms"] = _parse_sql_timestamp_ms(m.group("ts"))
        elif m.group("ref"):
            kw["ref"] = m.group("ref")
        return clone_table(src, catalog.location_for_new(name),
                           deep=m.group("depth").upper() == "DEEP", **kw)
    if action == "rename_table":
        catalog.rename_table(m.group("tbl"), m.group("new"))
        return None
    if action == "copy_into":
        from .operators.copy_into import copy_into

        return copy_into(
            catalog.load_table(m.group("tbl")), m.group("src"),
            file_format=(m.group("fmt") or "parquet").lower(),
            pattern=m.group("pattern"),
        )
    if action == "create_table":
        name = m.group("tbl")
        if "IF NOT EXISTS" in m.string.upper() and catalog.table_exists(name):
            return catalog.load_table(name)
        # the column list (and the transform list) may contain nested parens
        # (decimal(10,2), bucket(4, c)), so both are extracted by balance
        cols, tail = _balanced_prefix(m.group("rest"),
                                      "CREATE TABLE column list")
        schema = T.StructType.fromDDL(cols)
        tm = re.search(r"PARTITIONED\s+BY\s*\(", tail, re.IGNORECASE)
        spec = PartitionSpec.of()
        if tm:
            transforms, _ = _balanced_prefix(tail[tm.end():], "PARTITIONED BY")
            spec = PartitionSpec.of(*[
                _parse_transform(p) for p in _split_top_level(transforms)
            ])
        pm_ = re.search(r"TBLPROPERTIES\s*\((?P<props>.+?)\)\s*;?\s*$",
                        tail, re.IGNORECASE | re.DOTALL)
        props = {x.group("k"): x.group("v")
                 for x in _PROP_RE.finditer(pm_.group("props") if pm_ else "")}
        return catalog.create_table(name, schema, spec, properties=props)
    if action == "create_table_as":
        # CTAS: schema comes from the query; one append materializes it
        name = m.group("tbl")
        if "IF NOT EXISTS" in m.string.upper() and catalog.table_exists(name):
            return catalog.load_table(name)
        df = _run_select(catalog, m.group("query").rstrip().rstrip(";"))
        spec = PartitionSpec.of(*[
            _parse_transform(p)
            for p in _split_top_level(m.group("transforms") or "")
        ]) if m.group("transforms") else PartitionSpec.of()
        props = {x.group("k"): x.group("v")
                 for x in _PROP_RE.finditer(m.group("props") or "")}
        t = catalog.create_table(name, df.schema, spec, properties=props)
        t.append(df)
        return t
    if action == "create_matview":
        from .operators.matview import create_materialized_view

        name = m.group("tbl")
        if "IF NOT EXISTS" in m.string.upper() and catalog.table_exists(name):
            return catalog.load_table(name)
        defn = _parse_matview_defn(
            m.group("select"), m.group("keys"), m.group("where"))
        return create_materialized_view(catalog, name, m.group("src"), defn)
    if action == "refresh_matview":
        from .operators.matview import refresh

        return refresh(catalog.load_table(m.group("tbl")),
                       full=bool(m.group("full")))
    if action == "drop_table":
        name = m.group("tbl")
        if m.group("if_exists") and not catalog.table_exists(name):
            return None
        catalog.drop_table(name)
        return None
    if action == "show_tables":
        return catalog.list_tables(m.group("db") or "default")
    if action == "describe_detail":
        return catalog.load_table(m.group("tbl")).describe()
    if action == "show_tblproperties":
        props = catalog.load_table(m.group("tbl")).meta.properties
        key = m.group("key")
        if key is not None:
            if key not in props:
                raise ValueError(f"property {key!r} not set on "
                                 f"{m.group('tbl')}")
            return {key: props[key]}
        return dict(sorted(props.items()))
    raise AssertionError(action)


_SELECT_HEAD_RE = re.compile(r"(?:WITH|SELECT)\b", re.IGNORECASE)

# FROM/JOIN <tbl> with the Delta/Iceberg time-travel clauses reference users
# write; non-catalog identifiers (CTE names, temp views, EXTRACT(x FROM y))
# are left untouched by the table_exists guard in _run_select
_TABLE_REF_RE = re.compile(
    rf"\b(?P<kw>FROM|JOIN)\s+(?P<tbl>{_ID})"
    rf"(?:\s+VERSION\s+AS\s+OF\s+(?P<version>\d+)"
    rf"|\s+TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)'"
    rf"|\s+AT\s+(?:BRANCH|TAG)\s+(?P<ref>[\w$-]+))?",
    re.IGNORECASE)

_SELECT_WHERE_RE = re.compile(
    r"\bWHERE\s+(?P<body>.+?)"
    r"(?:\s+(?:GROUP\s+BY|ORDER\s+BY|HAVING|LIMIT|WINDOW)\b.*)?;?\s*$",
    re.IGNORECASE | re.DOTALL)


def _select_pushdown(stmt: str, table: Table) -> list[tuple] | None:
    """Best-effort file-pruning predicates for a single-table SELECT: the
    parseable conjuncts of its WHERE clause that name real table columns.
    A SUBSET of the conjunction is always a sound pruning predicate (it can
    only keep more files), so unparseable terms are skipped, but any OR makes
    the top-level split unsound — claim nothing then. The SQL WHERE still
    runs in full over the scan, so pushdown never changes results."""
    if len(re.findall(r"\bWHERE\b", stmt, re.IGNORECASE)) != 1 \
            or re.search(r"\bJOIN\b", stmt, re.IGNORECASE):
        return None
    wm = _SELECT_WHERE_RE.search(stmt)
    if wm is None:
        return None
    body = wm.group("body")
    if re.search(r"\bOR\b", re.sub(r"'[^']*'", "''", body), re.IGNORECASE):
        return None
    cols = {f.name for f in table.schema.fields}
    preds: list[tuple] = []
    for term in _split_on_and(body):
        try:
            (pred,) = parse_where(term)
        except Exception:
            continue
        if pred[0] in cols:
            preds.append(pred)
    return preds or None


_AGG_SELECT_RE = re.compile(
    rf"SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<tbl>{_ID})"
    rf"(?:\s+VERSION\s+AS\s+OF\s+(?P<version>\d+)"
    rf"|\s+TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)'"
    rf"|\s+AT\s+(?:BRANCH|TAG)\s+(?P<ref>[\w$-]+))?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)

_AGG_ITEM_RE = re.compile(
    rf"(?P<fn>COUNT|MIN|MAX)\s*\(\s*(?P<arg>\*|{_ID})\s*\)\s+"
    rf"AS\s+(?P<alias>{_ID})\s*$", re.IGNORECASE)

_AGG_BLOCKERS_RE = re.compile(
    r"\b(GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|JOIN|DISTINCT|OVER|WINDOW|UNION)\b",
    re.IGNORECASE)


def _try_metadata_agg(catalog: Catalog, stmt: str) -> DataFrame | None:
    """Metadata-only fast path for ``SELECT count/min/max(..) AS a, ..
    FROM <tbl> [time travel] [WHERE <and-of-simple-terms>]``
    (plans/agg_pushdown.py). Every aggregate needs an explicit alias and
    every WHERE conjunct must be a simple ``col op literal`` term — anything
    else falls through to the ordinary scan, which computes the same result
    the slow way."""
    from .plans.agg_pushdown import AggItem, metadata_agg

    masked = re.sub(r"'[^']*'", "''", stmt)
    if _AGG_BLOCKERS_RE.search(masked) or re.search(r"\bOR\b", masked,
                                                    re.IGNORECASE):
        return None
    m = _AGG_SELECT_RE.match(stmt.strip())
    if m is None or not catalog.table_exists(m.group("tbl")):
        return None
    items = []
    for part in _split_top_level(m.group("items")):
        im = _AGG_ITEM_RE.match(part.strip())
        if im is None:
            return None
        fn, arg = im.group("fn").lower(), im.group("arg")
        if arg == "*" and fn != "count":
            return None
        items.append(AggItem("count_star" if (fn, arg) == ("count", "*")
                             else fn,
                             None if arg == "*" else arg, im.group("alias")))
    if not items:
        return None
    preds = None
    if m.group("where"):
        try:
            preds = parse_where(m.group("where"))
        except Exception:
            return None
    kw: dict[str, Any] = {}
    if m.group("version"):
        kw["snapshot_id"] = int(m.group("version"))
    elif m.group("ts"):
        kw["as_of_timestamp_ms"] = _parse_sql_timestamp_ms(m.group("ts"))
    elif m.group("ref"):
        kw["ref"] = m.group("ref")
    return metadata_agg(catalog.load_table(m.group("tbl")), items, preds, **kw)


def _run_select(catalog: Catalog, stmt: str) -> DataFrame:
    """SELECT/WITH query over catalog tables: each ``FROM|JOIN <tbl>
    [VERSION AS OF n | TIMESTAMP AS OF '<iso>' | AT BRANCH|TAG <ref>]``
    reference is resolved to the engine's (possibly time-traveled) scan,
    registered as a temp view, and the rewritten text goes to Spark SQL —
    so deletion vectors, equality deletes, and snapshot isolation all apply
    without the user leaving SQL. Single-table WHERE conjuncts additionally
    prune data files via the manifest stats before Catalyst ever sees the
    scan (multi-table/OR queries fall back to plain Catalyst pushdown).
    Pure COUNT/MIN/MAX aggregations are answered from manifest statistics
    without reading data where provably sound (plans/agg_pushdown.py)."""
    fast = _try_metadata_agg(catalog, stmt)
    if fast is not None:
        return fast
    refs = [m for m in _TABLE_REF_RE.finditer(stmt)
            if catalog.table_exists(m.group("tbl"))]
    out, last = [], 0
    for m in refs:
        table = catalog.load_table(m.group("tbl"))
        kw: dict[str, Any] = {}
        suffix = ""
        view = "_sqlscan__" + re.sub(r"[^A-Za-z0-9_]", "_", m.group("tbl"))
        if m.group("version"):
            # same convention as RESTORE ... TO VERSION AS OF: the version
            # number IS the snapshot id (what DESCRIBE HISTORY shows)
            kw = {"snapshot_id": int(m.group("version"))}
            suffix = f"__v{m.group('version')}"
        elif m.group("ts"):
            dt = datetime.datetime.fromisoformat(
                m.group("ts").replace(" ", "T", 1))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=datetime.timezone.utc)
            kw = {"as_of_timestamp_ms": int(dt.timestamp() * 1000)}
            suffix = "__ts" + re.sub(r"[^0-9]", "", m.group("ts"))
        elif m.group("ref"):
            kw = {"ref": m.group("ref")}
            suffix = f"__ref_{m.group('ref')}"
        preds = _select_pushdown(stmt, table) if len(refs) == 1 else None
        table.scan(preds, **kw).createOrReplaceTempView(view + suffix)
        out.append(stmt[last:m.start()])
        out.append(f"{m.group('kw')} {view + suffix}")
        last = m.end()
    out.append(stmt[last:])
    return catalog.spark.sql("".join(out).rstrip().rstrip(";"))


def run_sql(catalog: Catalog, statement: str) -> Any:
    """Parse and execute one maintenance statement against ``catalog``."""
    stmt = statement.strip()
    if _SELECT_HEAD_RE.match(stmt):
        return _run_select(catalog, stmt)
    for pattern, action in _CATALOG_STATEMENTS:
        m = pattern.match(stmt)
        if m is not None:
            return _dispatch_catalog(action, catalog, m)
    for pattern, action in _STATEMENTS:
        m = pattern.match(stmt)
        if m is None:
            continue
        table = catalog.load_table(m.group("tbl"))
        return _dispatch(action, table, m, catalog)
    raise ValueError(f"unsupported maintenance statement: {statement!r}")


_MERGE_TAIL_RE = re.compile(
    r"\s*(?:(?:AS\s+)?(?!ON\b)[A-Za-z_][\w$]*\s+)?ON\s+(?P<on>.+?)"
    r"(?=\s+WHEN\s)(?P<clauses>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)

_MERGE_MATCHED_RE = re.compile(
    r"WHEN\s+MATCHED\s*(?:AND\s+(?P<cond>.+?)\s+)?THEN\s+"
    r"(?:DELETE|UPDATE\s+SET\s+(?P<set>.+))\s*$",
    re.IGNORECASE | re.DOTALL)

_MERGE_NOT_MATCHED_RE = re.compile(
    r"WHEN\s+NOT\s+MATCHED\s*(?:AND\s+(?P<cond>.+?)\s+)?THEN\s+"
    r"INSERT\s*\*?\s*$",
    re.IGNORECASE | re.DOTALL)

_MERGE_ON_TERM_RE = re.compile(
    r"(?:[A-Za-z_][\w$]*\.)?(?P<a>[A-Za-z_][\w$]*)\s*=\s*"
    r"(?:[A-Za-z_][\w$]*\.)?(?P<b>[A-Za-z_][\w$]*)\s*$")


def _parse_merge_on(body: str) -> list[str]:
    """MERGE ON equi-conjunction -> key column list. Each term must equate
    the SAME column name on both sides (aliases are accepted and ignored) —
    the job's key-join contract."""
    cols = []
    for term in _split_on_and(body):
        mm = _MERGE_ON_TERM_RE.match(term.strip())
        if not mm or mm.group("a") != mm.group("b"):
            raise ValueError(
                "MERGE ON must be an AND of same-named column equalities "
                f"(t.col = s.col), got: {term!r}")
        cols.append(mm.group("a"))
    return cols


def _run_merge(table: Table, m: re.Match,
               catalog: Catalog | None = None) -> Any:
    """``MERGE INTO t USING (<query>)|<view> ON t.k = s.k [AND ...]
    WHEN MATCHED [AND <cond>] THEN UPDATE SET * | UPDATE SET c = expr[, ...]
    | DELETE [WHEN NOT MATCHED [AND <cond>] THEN INSERT *]`` — the
    Databricks/Delta statement reference users upsert with, dispatched to
    MergeIntoJob (scoped rewrite; salted/AQE join). UPDATE SET * replaces
    the matched row with the source row; per-column SET expressions see the
    matched pair (qualify with ``t.``/``s.``); AND-conditions gate each
    clause (unmet matched rows are kept, unmet sources not inserted)."""
    from .operators.merge import MergeIntoJob

    rest = m.group("rest").strip()
    if rest.startswith("("):
        query, tail = _balanced_prefix(rest[1:], "MERGE USING subquery")
        source = (_run_select(catalog, query) if catalog is not None
                  else table.spark.sql(query))
    else:
        vm = re.match(rf"(?P<view>{_ID})(?P<tail>.*)$", rest, re.DOTALL)
        if vm is None:
            raise ValueError(f"unparseable MERGE USING source: {rest!r}")
        source = table.spark.table(vm.group("view"))
        tail = vm.group("tail")
    tm = _MERGE_TAIL_RE.match(tail)
    if tm is None:
        raise ValueError(
            "MERGE needs ON <equi-keys> then WHEN [NOT] MATCHED clauses, "
            f"got: {tail!r}")
    key_cols = _parse_merge_on(tm.group("on"))
    kw: dict[str, Any] = {"when_matched": None, "when_not_matched": "ignore"}
    clauses = re.split(r"(?i)\s+(?=WHEN\s+(?:NOT\s+)?MATCHED\b)",
                       tm.group("clauses").strip())
    for clause in clauses:
        mm = _MERGE_MATCHED_RE.match(clause)
        nm = _MERGE_NOT_MATCHED_RE.match(clause)
        if mm is not None:
            if kw["when_matched"] is not None:
                raise ValueError("at most one WHEN MATCHED clause")
            body = mm.group("set")
            kw["when_matched"] = "delete" if body is None else "update"
            if body is not None and body.strip() != "*":
                kw["update_set"] = parse_set(body)
            if mm.group("cond"):
                kw["matched_condition"] = mm.group("cond").strip()
        elif nm is not None:
            kw["when_not_matched"] = "insert"
            if nm.group("cond"):
                kw["not_matched_condition"] = nm.group("cond").strip()
        else:
            raise ValueError(f"unparseable MERGE clause: {clause!r}")
    if kw["when_matched"] is None:
        kw["when_matched"] = "update" if kw["when_not_matched"] == "insert" \
            else None
        if kw["when_matched"] is None:
            raise ValueError("MERGE needs at least one WHEN clause")
        # insert-only MERGE: matched rows are untouched -> update with an
        # always-false condition keeps them verbatim
        kw["matched_condition"] = "false"
    return MergeIntoJob(table, key_cols=key_cols, **kw).run(source)


def _dispatch(action: str, table: Table, m: re.Match,
              catalog: Catalog | None = None) -> Any:
    # subqueries resolve through _run_select when a catalog is in scope, so
    # INSERT INTO t2 SELECT ... FROM t1 [VERSION AS OF n] works on catalog
    # tables, not only Spark temp views
    def subquery(q: str) -> DataFrame:
        return (_run_select(catalog, q) if catalog is not None
                else table.spark.sql(q))

    if action == "merge":
        return _run_merge(table, m, catalog)
    if action == "insert_into":
        q = m.group("query").rstrip().rstrip(";").strip()
        if q.startswith("("):
            q, _tail = _balanced_prefix(q[1:], "INSERT INTO subquery")
        return table.append(subquery(q))
    if action == "delete":
        return DeleteJob(table, parse_where(m.group("where"))).run()
    if action == "delete_eq":
        # DELETE FROM t BY KEYS (SELECT conv_id, turn_idx FROM staged_keys):
        # Iceberg v2 equality delete — the subquery's columns ARE the key
        from .operators.delete import equality_delete
        return equality_delete(table, subquery(m.group("query")))
    if action == "upsert":
        # UPSERT INTO t BY KEYS (conv_id, turn_idx) FROM (SELECT ...):
        # atomic row-delta — batch data files + equality delete, one snapshot
        from .operators.upsert import upsert
        return upsert(table, subquery(m.group("query")),
                      _cols(m.group("cols")))
    if action == "update":
        where = m.group("where")
        return UpdateJob(
            table, parse_where(where) if where else [], parse_set(m.group("set"))
        ).run()
    if action == "optimize":
        # OPTIMIZE ... WHERE (Delta's predicate-scoped OPTIMIZE): the
        # predicate selects PARTITIONS via the scan planner's file pruning —
        # a conservative superset of partitions holding matching rows — and
        # only those are compacted/clustered; cold history is never re-planned
        only = None
        if m.group("where"):
            from .operators.ledger import partition_key
            preds = parse_where(m.group("where"))
            only = {partition_key(f.partition)
                    for f in table.plan_scan(preds)}
        result = CompactionJob(table, only_partitions=only).run()
        curve = (m.group("curve") or "").lower()
        if curve:
            cols = _cols(m.group("cols"))
            dims = dict(zip(("conv_col", "turn_col", "ts_col"), cols))
            return ClusteringJob(table, curve=curve, only_partitions=only,
                                 **dims).run()
        return result
    if action == "explain_estimate":
        # EXPLAIN ESTIMATE <tbl> [WHERE ...]: the cost planner's view —
        # files surviving metadata pruning, ANALYZE-backed row/byte
        # estimates, and the decisions they would drive
        from .plans.costs import (
            estimated_scan_bytes, estimated_scan_rows, parse_size,
            read_stats, suggest_salt_buckets, suggest_shuffle_partitions,
        )
        preds = parse_where(m.group("where")) if m.group("where") else None
        # NB: do not name this `files` — it would shadow the module-level
        # files() metadata table for every action in this function
        scan_files = table.plan_scan(preds)
        # surface the self-tuning MERGE decisions (VERDICT r4 item #7): for
        # every column carrying a persisted ANALYZE frequency stat, the salt
        # the planner would derive and the top_count that triggered (or
        # declined) it, plus the broadcast-vs-shuffle call for the pruned
        # scan's key projection at the session broadcast threshold
        stats_payload = read_stats(table)
        merge_plan: dict[str, dict] = {}
        for col, st in ((stats_payload or {}).get("columns") or {}).items():
            if "top_count" not in st:
                continue
            merge_plan[col] = {
                "top_count": st["top_count"],
                "salt_buckets": suggest_salt_buckets(table, col),
            }
        thr = parse_size(table.spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10MB"))
        key_rows = sum(f.record_count for f in scan_files)
        return {
            "files_total": len(table.live_data_files()),
            "files_after_pruning": len(scan_files),
            "pruned_file_rows": sum(f.record_count for f in scan_files),
            "pruned_file_bytes": sum(f.file_size_bytes for f in scan_files),
            "estimated_rows": estimated_scan_rows(table, preds),
            "estimated_bytes": estimated_scan_bytes(table, preds),
            "suggested_shuffle_partitions":
                suggest_shuffle_partitions(table, preds),
            "merge_salt_plan": merge_plan,
            "merge_target_key_broadcast":
                thr > 0 and key_rows * 32 <= thr,
        }
    if action == "vacuum":
        # Delta's retention-duration check: deleting orphans younger than the
        # retention window can break in-flight readers and streaming sources
        # pinned to recent snapshots, so short RETAIN values are refused
        # unless the table explicitly opts out (the
        # spark.databricks.delta.retentionDurationCheck.enabled analogue)
        min_hours = float(table.meta.properties.get(
            "vacuum.min-retention-hours", "168"))
        check = table.meta.properties.get(
            "vacuum.retention-check.enabled", "true") != "false"
        if m.group("hours") is None:
            hours = min_hours
        else:
            hours = float(m.group("hours"))
            if check and hours < min_hours:
                raise ValueError(
                    f"VACUUM RETAIN {hours:g} HOURS is below the minimum "
                    f"retention ({min_hours:g}h): files younger than the "
                    "window may still be referenced by in-flight readers or "
                    "streaming checkpoints. Raise RETAIN, lower "
                    "'vacuum.min-retention-hours', or set "
                    "'vacuum.retention-check.enabled'='false' on the table.")
        return ExpireSnapshotsJob(
            table, grace_period_sec=hours * 3600.0
        ).run()
    if action == "expire_snapshots":
        older = (_parse_sql_timestamp_ms(m.group("ts"))
                 if m.group("ts") else None)
        keep = int(m.group("n")) if m.group("n") else 3
        return ExpireSnapshotsJob(
            table, keep_last=keep, older_than_ms=older
        ).run()
    if action == "restore_version":
        return table.restore(int(m.group("version")))
    if action == "restore_timestamp":
        dt = datetime.datetime.fromisoformat(m.group("ts"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        target = table.snapshot_as_of(int(dt.timestamp() * 1000))
        return table.restore(target.snapshot_id)
    if action == "history":
        return history(table)
    if action == "show_create":
        return show_create_table(table, m.group("tbl"))
    if action == "files":
        return files(table)
    if action == "partitions":
        return partitions(table)
    if action == "manifests":
        return manifests(table)
    if action == "maintain":
        from .operators.maintain import run_maintenance
        return run_maintenance(table, catalog=catalog)
    if action == "analyze":
        from .operators.analyze import analyze_table
        cols = _cols(m.group("cols")) if m.group("cols") else None
        fcols = _cols(m.group("fcols")) if m.group("fcols") else None
        return analyze_table(table, cols, frequency_columns=fcols)
    if action == "describe_stats":
        from .operators.analyze import describe_stats
        return describe_stats(table)
    if action == "rewrite_manifests":
        from .operators.manifests import RewriteManifestsJob
        return RewriteManifestsJob(table).run()
    if action == "rewrite_deletes":
        from .operators.rewrite_deletes import RewriteDeletesJob
        return RewriteDeletesJob(table).run()
    if action == "table_changes":
        from .operators.change_feed import change_feed
        to = m.group("to")
        return change_feed(table, int(m.group("from")),
                           int(to) if to else None)
    if action == "add_constraint":
        table.add_check_constraint(m.group("name"), m.group("expr").strip())
        return None
    if action == "drop_constraint":
        name = m.group("name")
        key = f"constraints.check.{name}"
        if key not in table.meta.properties:
            raise ValueError(f"unknown constraint {name!r}")
        table.unset_property(key)
        return None
    if action == "create_ref":
        sid = m.group("version")
        sid = int(sid) if sid is not None else None
        retain = m.group("retain")
        age_ms = int(retain) * 86400_000 if retain is not None else None
        if m.group("kind").upper() == "BRANCH":
            table.create_branch(m.group("name"), sid, max_ref_age_ms=age_ms)
        else:
            table.create_tag(m.group("name"), sid, max_ref_age_ms=age_ms)
        return None
    if action == "drop_ref":
        table.drop_ref(m.group("name"))
        return None
    if action == "fast_forward":
        return table.fast_forward_main(m.group("name"))
    if action == "refs":
        return refs_table(table)
    if action == "add_columns":
        try:
            new_fields = T.StructType.fromDDL(m.group("cols")).fields
        except Exception as e:
            raise ValueError(f"unparseable column list in ADD COLUMNS: {e}")
        table.add_columns(new_fields)
        return None
    if action == "drop_column":
        table.drop_column(m.group("col"))
        return None
    if action == "rename_column":
        table.rename_column(m.group("old"), m.group("new"))
        return None
    if action == "widen_column":
        try:
            new_type = T.StructType.fromDDL(
                f"__c {m.group('typ')}").fields[0].dataType
        except Exception as e:
            raise ValueError(
                f"unparseable type in ALTER COLUMN TYPE: {e}")
        table.widen_column(m.group("col"), new_type)
        return None
    if action == "cluster_by":
        table.set_cluster_keys(_cols(m.group("cols")))
        return None
    if action == "set_properties":
        for pm in _PROP_RE.finditer(m.group("props")):
            table.set_property(pm.group("k"), pm.group("v"))
        return None
    if action == "partitioned_by":
        fields = [_parse_transform(p)
                  for p in _split_top_level(m.group("transforms"))]
        table.set_partition_spec(PartitionSpec.of(*fields))
        return None
    raise AssertionError(action)


def files(table: Table, snapshot_id: int | None = None) -> DataFrame:
    """``tbl.files`` metadata table (Iceberg analogue): one row per live data
    file — (path, partition, record_count, file_size_bytes). DISTRIBUTED: the
    driver ships only manifest paths; entry decode fans out executor-side
    (`format/manifest.py:manifest_entries_df`), so introspecting a 10^9-file
    table never materializes the file list on the driver."""
    from .format import manifest as mf

    s = (table.meta.snapshot_by_id(snapshot_id) if snapshot_id is not None
         else table.current_snapshot())
    if s is None:
        return mf.manifest_entries_df(table.spark, [])
    paths = [r["path"] for r in mf.read_manifest_list(s.manifest_list)]
    return mf.manifest_entries_df(table.spark, paths)


def partitions(table: Table) -> DataFrame:
    """``tbl.partitions`` metadata table: per-partition census
    (partition, file_count, record_count, total_bytes) — one distributed
    aggregation over the files metadata table."""
    return (
        files(table)
        .groupBy("partition")
        .agg(
            F.count("*").alias("file_count"),
            F.sum("record_count").alias("record_count"),
            F.sum("file_size_bytes").alias("total_bytes"),
        )
    )


def manifests(table: Table) -> DataFrame:
    """``tbl.manifests`` metadata table: one row per manifest of the current
    snapshot (driver-side — the manifest LIST is O(manifests), tiny)."""
    from .format import manifest as mf

    s = table.current_snapshot()
    recs = mf.read_manifest_list(s.manifest_list) if s else []
    rows = [
        (
            r["path"], r["manifest_length"], r["added_snapshot_id"],
            r["added_files_count"], r["existing_files_count"],
            r["deleted_files_count"],
            {k: str(v) for k, v in (r.get("partition_summaries") or {}).items()},
        )
        for r in recs
    ]
    return local_frame(
        table.spark, rows,
        "path string, manifest_length long, added_snapshot_id long, "
        "added_files_count int, existing_files_count int, "
        "deleted_files_count int, partition_summaries map<string,string>",
    )


def refs_table(table: Table) -> DataFrame:
    """DESCRIBE REFS: one row per named ref, plus the implicit main."""
    rows = [("main", "branch", table.current_snapshot().snapshot_id
             if table.current_snapshot() else None)]
    rows += [(name, r["type"], int(r["snapshot_id"]))
             for name, r in sorted(table.refs.items())]
    return local_frame(
        table.spark, rows, "name string, type string, snapshot_id long")


def history(table: Table) -> DataFrame:
    """DESCRIBE HISTORY analogue: one row per snapshot, newest first."""
    rows = [
        (
            s.snapshot_id,
            datetime.datetime.fromtimestamp(
                s.timestamp_ms / 1000.0, tz=datetime.timezone.utc
            ).replace(tzinfo=None),
            s.operation,
            s.parent_snapshot_id,
            {k: str(v) for k, v in (s.summary or {}).items()},
        )
        for s in sorted(table.snapshots,
                        key=lambda s: s.sequence_number, reverse=True)
    ]
    return local_frame(
        table.spark, rows,
        "version long, timestamp timestamp_ntz, operation string, "
        "parent_version long, summary map<string,string>",
    )


# properties that are internal bookkeeping, not user declarations — a
# re-created table must NOT inherit them (rename history / retired partition
# fields describe THIS table's file eras, which a fresh table has none of)
_INTERNAL_PROPS = ("schema.renames", "partition.retired-fields")


def show_create_table(table: Table, name: str) -> DataFrame:
    """SHOW CREATE TABLE analogue: one row, ``createtab_stmt`` (Spark's
    convention) holding DDL that ROUND-TRIPS through this module's own
    grammar — CREATE TABLE with columns / PARTITIONED BY transforms /
    TBLPROPERTIES, followed by ALTER statements for cluster keys (the
    grammar declares those post-create, matching the reference's
    `post_setup_ocsf_tables.py` flow)."""
    cols = ",\n  ".join(
        f"{f.name} {f.dataType.simpleString().upper()}"
        for f in table.schema.fields)
    stmt = f"CREATE TABLE {name} (\n  {cols}\n)"
    if table.spec.fields:
        def transform_sql(pf) -> str:
            t = pf.transform
            if t in ("identity", "days"):
                return f"{t}({pf.source}) AS {pf.name}"
            fn, n = t[:t.index("[")], t[t.index("[") + 1:-1]
            return f"{fn}({n}, {pf.source}) AS {pf.name}"
        stmt += ("\nPARTITIONED BY ("
                 + ", ".join(transform_sql(pf) for pf in table.spec.fields)
                 + ")")
    props = {k: v for k, v in sorted(table.meta.properties.items())
             if k not in _INTERNAL_PROPS}
    if props:
        stmt += ("\nTBLPROPERTIES ("
                 + ", ".join(f"'{k}'='{v}'" for k, v in props.items()) + ")")
    if table.meta.cluster_keys:
        stmt += (f";\nALTER TABLE {name} CLUSTER BY "
                 f"({', '.join(table.meta.cluster_keys)})")
    return local_frame(table.spark, [(stmt,)], "createtab_stmt string")
