"""Executable ``MERGE INTO`` for the plain-parquet session catalog.

The reference's warehouse loads lean on Snowflake-side ``MERGE`` for upserts
(the arbitrary-SQL pass-through of ``/root/reference/dags/dev_db_test.py:
41-70`` makes every Snowflake statement shape reachable), and the engine's
statement splitter already recognizes ``MERGE INTO`` as a write head for
lock serialization — this module makes the statement actually execute.

Spark's SQL ``MERGE INTO`` needs a v2 table provider (Delta/Iceberg, jars
absent here), but MERGE semantics decompose into plain relational algebra
over the snapshot:

- matched + UPDATE  -> target LEFT JOIN source, CASE per assigned column
- matched + DELETE  -> target LEFT ANTI JOIN source (keep non-matches)
- not matched + INSERT -> source LEFT ANTI JOIN target, projected to the
  target schema (missing columns become typed NULLs)
- not matched BY SOURCE + UPDATE/DELETE -> the SAME left join: a target
  row whose join marker is NULL has no source match, so the branch CASE
  dispatches on ``marker IS NULL`` — no extra join or shuffle

branches UNION ALL'd and written back with ``INSERT OVERWRITE``. The
rewrite keeps the statement's own aliases so ``ON``/``SET``/``VALUES``
expressions run verbatim. How it is written back depends on the path (see
:func:`run_merge`): the partition-pruned path is one dynamic-partition
``INSERT OVERWRITE`` that reads its own target (Spark writes it under
``.spark-staging-*`` and swaps the partitions in after the job commits);
the unpruned path is a static overwrite, which may not read its own
target, so it first materializes the rewrite to a staging table.

Supported grammar (the common warehouse shapes — Snowflake's MERGE plus
the SQL-Server/Databricks ``BY SOURCE`` extension)::

    MERGE INTO <tgt> [[AS] t] USING <src | (subquery)> [[AS] s]
    ON <cond>
    [WHEN MATCHED [AND <guard>] THEN UPDATE SET col = expr [, ...]] ...
    [WHEN MATCHED [AND <guard>] THEN DELETE] ...
    [WHEN NOT MATCHED [BY TARGET] [AND <guard>]
         THEN INSERT [(cols)] VALUES (exprs)] ...
    [WHEN NOT MATCHED BY SOURCE [AND <guard>] THEN UPDATE SET ...] ...
    [WHEN NOT MATCHED BY SOURCE [AND <guard>] THEN DELETE] ...

``NOT MATCHED BY TARGET`` is the standard synonym for plain ``NOT
MATCHED``; ``NOT MATCHED BY SOURCE`` selects target rows with no source
match — the full-sync clause (delete/retire rows that vanished upstream)
a warehouse user migrating through the reference's arbitrary-SQL
chokepoint (``/root/reference/dags/dev_db_test.py:41-70``) reaches next.
Its SET expressions may reference only target columns (source columns are
all NULL on that side by construction).

Multiple guarded branches per match side are evaluated in statement order —
the first branch whose guard is true applies (Snowflake's rule); a branch
after an unguarded one on the same side is unreachable and rejected. The
standard MERGE precondition — the source must be unique on the join key —
is ENFORCED at runtime when any MATCHED branch exists: a pre-rewrite
aggregate counts source matches per target row and raises, mirroring
Snowflake's nondeterministic-merge error, instead of silently fanning out
the LEFT JOIN.

Job anatomy of one pruned upsert MERGE (the daily backfill shape, 7 Spark
jobs; AQE runs each shuffle stage as its own job):

- partition columns: ``DESCRIBE TABLE`` — 0 jobs;
- pin the source (``localCheckpoint``), its touched partitions an
  observed metric of the same job — 1 job;
- the duplicate-match check (:func:`_check_deterministic`) — 3 jobs;
- the dynamic-partition ``INSERT OVERWRITE`` of the rewrite — 3 jobs;
- only when a branch deletes: a ``DISTINCT`` probe of the rewrite for
  touched partitions it leaves empty, and a truncating insert per such
  partition.

Scale notes: the rewrite is two joins and a union over the snapshot — the
same shuffle shape Delta's MERGE plans under the hood (join on the merge
key; AQE handles skew). The unpruned path's staging CTAS is the price of
snapshot isolation without a transactional table format; at 100 TB you'd
point the identical statement at a Delta/Iceberg catalog instead.
"""

from __future__ import annotations

import dataclasses
import re
from dataclasses import dataclass, field

from bfs_etl_sep2025_spark.plans.qualify import _top_level_positions

_MERGE_HEAD = re.compile(r"(?i)^\s*MERGE\s+INTO\s+")
_USING = re.compile(r"(?i)^USING\b")
_ON = re.compile(r"(?i)^ON\b")
_WHEN = re.compile(r"(?i)^WHEN\b")
_WHEN_HEAD = re.compile(
    r"(?is)^WHEN\s+(?P<not>NOT\s+)?MATCHED"
    r"(?:\s+BY\s+(?P<by>SOURCE|TARGET)\b)?"
)
_THEN = re.compile(r"(?i)^THEN\b")
_AND_HEAD = re.compile(r"(?is)^AND\b")
_UPDATE_ACT = re.compile(r"(?is)^UPDATE\s+SET\s+(?P<sets>.+)$")
_DELETE_ACT = re.compile(r"(?is)^DELETE\s*$")
_INSERT_ACT = re.compile(
    r"(?is)^INSERT\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?VALUES\s*\((?P<vals>.+)\)\s*$"
)


def is_merge(stmt: str) -> bool:
    return bool(_MERGE_HEAD.match(stmt))


@dataclass
class MatchedBranch:
    """One ``WHEN MATCHED [AND guard] THEN UPDATE|DELETE`` clause."""

    guard: str | None  # extra AND condition, verbatim; None = unguarded
    delete: bool = False
    sets: dict[str, str] = field(default_factory=dict)  # col -> expr


@dataclass
class InsertBranch:
    """One ``WHEN NOT MATCHED [AND guard] THEN INSERT`` clause."""

    guard: str | None
    cols: list[str] | None  # None = full target column list
    vals: list[str] = field(default_factory=list)


@dataclass
class MergeSpec:
    target: str
    target_alias: str
    source_sql: str  # table name or parenthesized subquery, verbatim
    source_alias: str
    on: str
    matched: list[MatchedBranch] = field(default_factory=list)
    not_matched: list[InsertBranch] = field(default_factory=list)
    #: WHEN NOT MATCHED BY SOURCE branches (UPDATE/DELETE on target rows
    #: with no source match) — same dataclass as matched: identical actions
    nm_by_source: list[MatchedBranch] = field(default_factory=list)

    # -- first-branch convenience views (the pre-guard API shape) ----------
    @property
    def update_sets(self) -> dict[str, str]:
        for b in self.matched:
            if not b.delete:
                return b.sets
        return {}

    @property
    def delete_matched(self) -> bool:
        return any(b.delete for b in self.matched)

    @property
    def insert_cols(self) -> list[str] | None:
        return self.not_matched[0].cols if self.not_matched else None

    @property
    def insert_vals(self) -> list[str] | None:
        return self.not_matched[0].vals if self.not_matched else None


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on a separator at paren depth 0, outside quotes/comments.

    ``_top_level_positions`` already returns ascending indices — iterate it
    directly. (A ``set()`` wrapper here once scrambled iteration order for
    sparse position lists with large values, silently mis-splitting long
    SET/VALUES clauses; regression-tested in tests/test_merge.py.)"""
    parts, last = [], 0
    for i in _top_level_positions(text):
        if text[i] == sep:
            parts.append(text[last:i])
            last = i + 1
    parts.append(text[last:])
    return [p.strip() for p in parts if p.strip()]


def _name_and_alias(fragment: str) -> tuple[str, str]:
    """``db.tbl [AS] alias`` or ``(subquery) [AS] alias`` -> (sql, alias);
    the alias defaults to the bare table name (SQL's own scoping rule)."""
    frag = fragment.strip()
    if frag.startswith("("):
        depth, i = 0, 0
        for i, ch in enumerate(frag):
            depth += ch == "("
            depth -= ch == ")"
            if depth == 0:
                break
        sql, rest = frag[: i + 1], frag[i + 1 :].strip()
    else:
        toks = frag.split(None, 1)
        sql, rest = toks[0], (toks[1] if len(toks) > 1 else "")
    rest = re.sub(r"(?i)^AS\s+", "", rest.strip())
    alias = rest.split()[0] if rest else sql.split(".")[-1].strip('`"')
    return sql, alias


def parse_merge(stmt: str) -> MergeSpec:
    m = _MERGE_HEAD.match(stmt)
    if not m:
        raise ValueError("not a MERGE INTO statement")
    body = stmt[m.end() :]
    tops = _top_level_positions(body)
    using_at = on_at = None
    when_ats: list[int] = []
    for i in tops:
        prev_ok = i == 0 or not body[i - 1].isalnum()
        if not prev_ok:
            continue
        if using_at is None and _USING.match(body[i:]):
            using_at = i
        elif using_at is not None and on_at is None and _ON.match(body[i:]):
            on_at = i
        elif on_at is not None and _WHEN.match(body[i:]):
            when_ats.append(i)
    if using_at is None or on_at is None or not when_ats:
        raise ValueError(
            "unsupported MERGE shape: need USING ... ON ... WHEN ..."
        )
    target, talias = _name_and_alias(body[:using_at])
    source_sql, salias = _name_and_alias(body[using_at + len("USING") : on_at])
    on = body[on_at + len("ON") : when_ats[0]].strip()
    spec = MergeSpec(target, talias, source_sql, salias, on)
    bounds = when_ats + [len(body)]
    for a, b in zip(bounds, bounds[1:]):
        clause = body[a:b].strip()
        head = _WHEN_HEAD.match(clause)
        if not head:
            raise ValueError(f"unsupported MERGE clause: {clause[:60]!r}")
        is_not = bool(head.group("not"))
        by = (head.group("by") or "").upper()
        if by and not is_not:
            raise ValueError(
                f"unsupported MERGE clause: WHEN MATCHED BY {by} "
                "(BY SOURCE/TARGET qualify only NOT MATCHED)"
            )
        by_source = by == "SOURCE"  # BY TARGET == plain NOT MATCHED
        rest = clause[head.end() :].strip()
        # optional AND <guard> runs to the first top-level THEN
        guard: str | None = None
        then_at = None
        for i in _top_level_positions(rest):
            if _THEN.match(rest[i:]) and (i == 0 or not rest[i - 1].isalnum()):
                then_at = i
                break
        if then_at is None:
            raise ValueError(f"MERGE clause missing THEN: {clause[:60]!r}")
        between = rest[:then_at].strip()
        if between:
            gm = _AND_HEAD.match(between)
            if not gm:
                raise ValueError(
                    f"unsupported MERGE clause head: {clause[:60]!r}"
                )
            guard = between[gm.end() :].strip()
            if not guard:
                raise ValueError(f"empty MERGE guard: {clause[:60]!r}")
        action = rest[then_at + len("THEN") :].strip()
        if by_source:
            prior: list = spec.nm_by_source
            side = "NOT MATCHED BY SOURCE"
        elif is_not:
            prior = spec.not_matched
            side = "NOT MATCHED"
        else:
            prior = spec.matched
            side = "MATCHED"
        if prior and prior[-1].guard is None:
            raise ValueError(
                f"MERGE: branch after an unguarded WHEN {side} is unreachable"
            )
        update_side = by_source or not is_not  # sides taking UPDATE/DELETE
        if update_side and _DELETE_ACT.match(action):
            prior.append(MatchedBranch(guard=guard, delete=True))
        elif update_side and (mm := _UPDATE_ACT.match(action)):
            sets: dict[str, str] = {}
            for assign in _split_top_level(mm.group("sets")):
                col, _, expr = assign.partition("=")
                if not expr:
                    raise ValueError(f"bad SET assignment: {assign!r}")
                sets[col.strip().split(".")[-1].strip('`"')] = expr.strip()
            prior.append(MatchedBranch(guard=guard, sets=sets))
        elif is_not and not by_source and (mm := _INSERT_ACT.match(action)):
            cols = mm.group("cols")
            spec.not_matched.append(
                InsertBranch(
                    guard=guard,
                    cols=(
                        [c.strip().strip('`"') for c in cols.split(",")]
                        if cols
                        else None
                    ),
                    vals=_split_top_level(mm.group("vals")),
                )
            )
        else:
            raise ValueError(f"unsupported MERGE clause: {clause[:60]!r}")
    return spec


def _rewrite(spec: MergeSpec, tgt_fields: list[tuple[str, str]]) -> str:
    """The UNION ALL select over (kept/updated target rows) + (inserts).
    ``tgt_fields`` is [(name, spark_sql_type)] from the live table schema.

    Guarded branches compile to one first-true-wins ``CASE`` selecting a
    branch ordinal (0 = no branch applies, keep the row as-is); the ordinal
    expression is inlined wherever needed — Catalyst's common-subexpression
    elimination shares it, and the whole matched side stays ONE left join
    over the snapshot regardless of branch count (same shuffle shape Delta
    plans for a multi-branch MERGE)."""
    t, s = spec.target_alias, spec.source_alias
    # a non-null marker column makes "matched" testable after the LEFT JOIN
    src = f"(SELECT *, true AS __merge_m FROM {spec.source_sql}) AS {s}"
    branches: list[str] = []
    only_unguarded_delete = (
        len(spec.matched) == 1
        and spec.matched[0].delete
        and spec.matched[0].guard is None
        and not spec.nm_by_source
    )
    if only_unguarded_delete:
        cols = ", ".join(f"{t}.{c} AS {c}" for c, _ in tgt_fields)
        branches.append(
            f"SELECT {cols} FROM {spec.target} AS {t} "
            f"LEFT ANTI JOIN {src} ON {spec.on}"
        )
    else:
        # first-true-wins branch ordinal over BOTH target-side clause
        # lists; 0 = untouched target row. The two sides' conditions are
        # mutually exclusive (__merge_m is true iff a source row matched),
        # so one CASE — and the single existing LEFT JOIN — serves both:
        # BY SOURCE costs no extra join or shuffle.
        sided: list[tuple[str, MatchedBranch]] = [
            (f"{s}.__merge_m", b) for b in spec.matched
        ] + [(f"{s}.__merge_m IS NULL", b) for b in spec.nm_by_source]
        arms = "".join(
            f" WHEN {cond}"
            + (f" AND ({b.guard})" if b.guard is not None else "")
            + f" THEN {i}"
            for i, (cond, b) in enumerate(sided, start=1)
        )
        act = f"CASE{arms} ELSE 0 END" if arms else "0"
        del_ids = [
            str(i) for i, (_, b) in enumerate(sided, start=1) if b.delete
        ]
        cols = ", ".join(
            (
                f"CASE ({act})"
                + "".join(
                    f" WHEN {i} THEN ({b.sets[c]})"
                    for i, (_, b) in enumerate(sided, start=1)
                    if not b.delete and c in b.sets
                )
                + f" ELSE {t}.{c} END AS {c}"
            )
            if any(not b.delete and c in b.sets for _, b in sided)
            else f"{t}.{c} AS {c}"
            for c, _ in tgt_fields
        )
        keep = f" WHERE ({act}) NOT IN ({', '.join(del_ids)})" if del_ids else ""
        branches.append(
            f"SELECT {cols} FROM {spec.target} AS {t} "
            f"LEFT JOIN {src} ON {spec.on}{keep}"
        )
    if spec.not_matched:
        names = [c for c, _ in tgt_fields]
        per_branch_vals: list[dict[str, str]] = []
        for b in spec.not_matched:
            icols = b.cols if b.cols is not None else names
            if len(icols) != len(b.vals):
                raise ValueError("MERGE INSERT: column/value count mismatch")
            per_branch_vals.append(dict(zip(icols, b.vals)))
        if len(spec.not_matched) == 1 and spec.not_matched[0].guard is None:
            vals = per_branch_vals[0]
            proj = ", ".join(
                f"({vals[c]}) AS {c}"
                if c in vals
                else f"CAST(NULL AS {typ}) AS {c}"
                for c, typ in tgt_fields
            )
            branches.append(
                f"SELECT {proj} FROM {src} "
                f"LEFT ANTI JOIN {spec.target} AS {t} ON {spec.on}"
            )
        else:
            arms = "".join(
                f" WHEN ({b.guard}) THEN {i}"
                if b.guard is not None
                else f" WHEN true THEN {i}"
                for i, b in enumerate(spec.not_matched, start=1)
            )
            iact = f"CASE{arms} ELSE 0 END"
            proj = ", ".join(
                (
                    f"CASE ({iact})"
                    + "".join(
                        f" WHEN {i} THEN ({vals[c]})"
                        for i, vals in enumerate(per_branch_vals, start=1)
                        if c in vals
                    )
                    + f" ELSE CAST(NULL AS {typ}) END AS {c}"
                )
                if any(c in vals for vals in per_branch_vals)
                else f"CAST(NULL AS {typ}) AS {c}"
                for c, typ in tgt_fields
            )
            branches.append(
                f"SELECT {proj} FROM {src} "
                f"LEFT ANTI JOIN {spec.target} AS {t} ON {spec.on} "
                f"WHERE ({iact}) <> 0"
            )
    return " UNION ALL ".join(branches)


def _check_deterministic(spark, spec: MergeSpec) -> None:
    """Raise if any target row matches more than one source row on the ON
    condition — Snowflake's nondeterministic-merge error (default
    ``ERROR_ON_NONDETERMINISTIC_MERGE=true``), which the LEFT-JOIN rewrite
    would otherwise silently fan out. One extra join+aggregate over the
    snapshot, the same pre-check Delta's MERGE runs; only needed (and only
    run) when the rewrite takes the LEFT JOIN path (any MATCHED or NOT
    MATCHED BY SOURCE branch) — insert-only merges are unaffected by
    duplicate matches (the anti join collapses them)."""
    t, s = spec.target_alias, spec.source_alias
    view = "__merge_rid_" + re.sub(r"\W", "_", spec.target)
    from pyspark.sql import functions as F

    spark.table(spec.target).withColumn(
        "__merge_rid", F.monotonically_increasing_id()
    ).createOrReplaceTempView(view)
    try:
        # collect, not count: counting a LIMIT adds a single-partition
        # exchange, and with it one more Spark job
        dup = spark.sql(
            f"SELECT 1 AS one FROM {view} AS {t} "
            f"JOIN {spec.source_sql} AS {s} ON {spec.on} "
            f"GROUP BY {t}.__merge_rid HAVING count(*) > 1 LIMIT 1"
        ).collect()
    finally:
        spark.catalog.dropTempView(view)
    if dup:
        raise ValueError(
            f"MERGE INTO {spec.target}: a target row matches multiple "
            "source rows on the ON condition — nondeterministic MERGE "
            "(deduplicate the source on the join key)"
        )


def _split_top_and(cond: str) -> list[str] | None:
    """Split a condition on top-level ANDs (outside parens/quotes); None
    when anything but a flat conjunction shows up at depth 0."""
    parts, buf, depth, i = [], [], 0, 0
    while i < len(cond):
        ch = cond[i]
        if ch == "'":  # skip string literal (Snowflake '' escaping)
            j = i + 1
            while j < len(cond):
                if cond[j] == "'" and cond[j : j + 2] != "''":
                    break
                j += 2 if cond[j] == "'" else 1
            buf.append(cond[i : j + 1])
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0:
            m_and = re.match(r"(?i)\s+AND\s+", cond[i:])
            if m_and:
                parts.append("".join(buf))
                buf = []
                i += m_and.end()
                continue
            if re.match(r"(?i)\s+(OR|NOT)\s+", cond[i:]):
                return None
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


_EQ_CONJUNCT = re.compile(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$")


def _part_literal(v) -> str | None:
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    # DATE partitions are the most common real layout; datetime.date is
    # NOT a datetime (checked in that order — datetime is a date subclass)
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return f"DATE'{v.isoformat()}'"
    return None


#: cap on distinct touched partitions before pruning stops paying for its
#: own bookkeeping and the full rewrite is simpler
_MAX_TOUCHED_PARTITIONS = 128


def _partition_columns(spark, table: str) -> list[str]:
    """The table's partition columns, from the rows after ``# Partition
    Information`` in ``DESCRIBE TABLE``: a catalog read that runs no Spark
    job (``spark.catalog.listColumns`` collects through
    ``toLocalIterator``, one job per partition). [] for an unpartitioned
    table, a view, or a name that does not resolve."""
    try:
        rows = spark.sql(f"DESCRIBE TABLE {table}").collect()
    except Exception:
        return []
    names = [r.col_name for r in rows]
    if "# Partition Information" not in names:
        return []
    out = []
    for n in names[names.index("# Partition Information") + 1 :]:
        if n == "# col_name":
            continue
        if not n or n.startswith("#"):  # the next section
            break
        out.append(n)
    return out


def _partition_pruning(spark, spec: MergeSpec):
    """Decide whether this MERGE can rewrite ONLY the target partitions the
    source actually touches (the catalog-table analog of Delta's file-level
    MERGE pruning). Safe exactly when every modified-or-inserted row is
    provably confined to partitions named by the source:

    - the target is partitioned and its schema lists partition cols last
      (the INSERT OVERWRITE column contract);
    - no NOT MATCHED BY SOURCE branch (those touch rows in ANY partition);
    - the ON condition is a flat conjunction of ``t.col = s.col``
      equalities covering every partition column (so matched rows live in
      source-named partitions);
    - no MATCHED UPDATE assigns a partition column (rows cannot migrate
      into an untouched partition, which dynamic overwrite would clobber);
    - every INSERT assigns each partition column verbatim from the ON-
      equated source column (inserts land in touched partitions only).

    Returns ``(predicate_sql, touched_rows, pcols, pin_view)``,
    or None when pruning is ruled out BEFORE the source is pinned, or
    ``(None, None, None, pin_view)`` when it's ruled out AFTER (too
    many touched partitions, NULL/unsupported partition literal) — the
    caller must then run the full rewrite against the already-pinned
    source, so the one-evaluation invariant holds on that path too and the
    pinned view never leaks unreferenced (ADVICE r6).
    """
    pcols = _partition_columns(spark, spec.target)
    if not pcols or spec.nm_by_source:
        return None
    fields = spark.table(spec.target).schema.fields
    names = [f.name for f in fields]
    if names[-len(pcols) :] != pcols:
        return None
    conj = _split_top_and(spec.on)
    if conj is None:
        return None
    t_, s_ = spec.target_alias, spec.source_alias
    eq: dict[str, str] = {}
    for c in conj:
        m = _EQ_CONJUNCT.match(c)
        if not m:
            return None
        aal, acol, bal, bcol = m.groups()
        if aal == t_ and bal == s_:
            eq[acol] = bcol
        elif aal == s_ and bal == t_:
            eq[bcol] = acol
        else:
            return None
    if not all(p in eq for p in pcols):
        return None
    for b in spec.matched:
        if any(p in b.sets for p in pcols):
            return None
    for b in spec.not_matched:
        bcols = b.cols if b.cols is not None else names
        for p in pcols:
            if p not in bcols:
                return None
            v = b.vals[bcols.index(p)].strip()
            if v not in (f"{s_}.{eq[p]}", eq[p]):
                return None
    # pin ONE evaluation of the source: the touched-partition decision and
    # the rewrite must see identical data, or a nondeterministic source
    # could emit a partition the pruning view never read and the dynamic
    # overwrite would replace it with only the new rows (the same
    # one-evaluation invariant VersionedTable.upsert pins). The touched
    # partitions, CAST to the target's partition types, are an observed
    # metric of that same pinning job: no probe job of their own.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    types = {f.name: f.dataType.simpleString() for f in fields}
    seen = Observation()
    pin_view = "__merge_src_pin_" + re.sub(r"\W", "_", spec.target)
    spark.sql(f"SELECT {s_}.* FROM {spec.source_sql} AS {s_}").observe(
        seen,
        F.collect_set(
            F.struct(*(F.col(eq[p]).cast(types[p]).alias(p) for p in pcols))
        ).alias("touched"),
    ).localCheckpoint().createOrReplaceTempView(pin_view)
    touched = seen.get["touched"]
    if len(touched) > _MAX_TOUCHED_PARTITIONS:
        return None, None, None, pin_view
    disj = []
    for r in touched:
        lits = []
        for p in pcols:
            lit = _part_literal(r[p])
            if lit is None:  # NULL/unsupported partition value type
                return None, None, None, pin_view
            lits.append(f"{p} = {lit}")
        disj.append("(" + " AND ".join(lits) + ")")
    pred = " OR ".join(disj) if disj else "false"
    return pred, touched, pcols, pin_view


def run_merge(spark, stmt: str) -> None:
    """Parse + execute one MERGE INTO against the session catalog.

    Partitioned targets take the PRUNED path when provably safe (see
    :func:`_partition_pruning`): the rewrite's joins read only the touched
    partitions, and the swap-in is a dynamic-partition INSERT OVERWRITE
    that replaces exactly those partitions — untouched partitions are
    neither read nor rewritten, the Delta-MERGE data-skipping behavior at
    partition granularity. A touched partition whose merged content comes
    back empty (everything deleted) is truncated explicitly, since dynamic
    overwrite only replaces partitions present in the output."""
    spec = parse_merge(stmt)
    decision = _partition_pruning(spark, spec)
    pruning = decision is not None and decision[0] is not None
    pin_view = decision[3] if decision is not None else None
    try:
        _run_merge_body(spark, spec, decision, pruning, pin_view)
    finally:
        # unconditional: _check_deterministic/_rewrite/CREATE TABLE stage
        # can raise BEFORE the success path's cleanup, and the
        # localCheckpointed __merge_src_pin_* view pins RDD blocks for the
        # session lifetime if it survives (ADVICE r7)
        view = "__merge_pruned_" + re.sub(r"\W", "_", spec.target)
        for v in (pin_view, view):
            if v is not None:
                try:
                    spark.catalog.dropTempView(v)
                except Exception:
                    pass
    # drop cached file listings for the overwritten target: a reader that
    # scanned the table before this MERGE would otherwise chase deleted
    # part files (FAILED_READ_FILE on the second upsert of a stream sink)
    spark.sql(f"REFRESH TABLE {spec.target}")


def _run_merge_body(spark, spec, decision, pruning, pin_view) -> None:
    if pruning:
        pred, touched, pcols, _ = decision
        view = "__merge_pruned_" + re.sub(r"\W", "_", spec.target)
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {view} AS "
            f"SELECT * FROM {spec.target} WHERE {pred}"
        )
        pspec = dataclasses.replace(spec, target=view, source_sql=pin_view)
    elif pin_view is not None:
        # pruning bailed AFTER pinning (>cap touched partitions, NULL
        # partition literal): run the full rewrite against the PINNED
        # source so it sees the same single evaluation the pruning probe
        # read (ADVICE r6 — the unpinned fallback re-evaluated the source)
        pspec = dataclasses.replace(spec, source_sql=pin_view)
    else:
        pspec = spec
    if spec.matched or spec.nm_by_source:
        _check_deterministic(spark, pspec)
    schema = spark.table(spec.target).schema
    tgt_fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    select = _rewrite(pspec, tgt_fields)
    if pruning:
        _overwrite_touched(spark, spec, select, tgt_fields, touched, pcols)
        return
    stage = f"{spec.target}__merge_stage"
    spark.sql(f"DROP TABLE IF EXISTS {stage}")
    spark.sql(f"CREATE TABLE {stage} AS {select}")
    try:
        spark.sql(
            f"INSERT OVERWRITE TABLE {spec.target} SELECT * FROM {stage}"
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {stage}")
        # pin/pruned temp view cleanup lives in run_merge's outer finally,
        # which also covers failures raised before this point


def _overwrite_touched(spark, spec, select, tgt_fields, touched, pcols) -> None:
    """Write the pruned rewrite back in ONE dynamic-partition ``INSERT
    OVERWRITE`` that reads its own target: Spark stages the output under
    ``.spark-staging-*`` and replaces exactly the partitions present in it
    once the job commits, so a failing job leaves every partition as it
    was. A touched partition the rewrite empties is absent from the output;
    only a deleting branch can empty one, so only then does a probe —
    reading the rewrite BEFORE the write, while the source is pinned and
    the target unchanged — find those partitions to truncate."""
    emptied = []
    if any(b.delete for b in spec.matched):
        present = {
            tuple(r)
            for r in spark.sql(
                f"SELECT DISTINCT {', '.join(pcols)} FROM ({select})"
            ).collect()
        }
        emptied = [r for r in touched if tuple(r) not in present]
    conf = "spark.sql.sources.partitionOverwriteMode"
    try:
        old = spark.conf.get(conf)
    except Exception:
        old = None
    spark.conf.set(conf, "dynamic")
    try:
        spark.sql(
            f"INSERT OVERWRITE TABLE {spec.target} SELECT * FROM ({select})"
        )
        nulls = ", ".join(
            f"CAST(NULL AS {typ}) AS {c}"
            for c, typ in tgt_fields
            if c not in pcols
        )
        for r in emptied:
            part = ", ".join(f"{p} = {_part_literal(r[p])}" for p in pcols)
            spark.sql(
                f"INSERT OVERWRITE TABLE {spec.target} PARTITION ({part}) "
                f"SELECT {nulls} WHERE false"
            )
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
