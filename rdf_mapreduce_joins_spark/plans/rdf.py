"""RDF layer: triples view + BGP compiler + the 11 declared rdf_* queries.

The reference (SURVEY.md §0-§2, provenance [K]) executes SPARQL-style
basic graph patterns (BGPs) over an RDF triples relation as hand-written
MapReduce jobs: triple-pattern selection in mappers, repartition joins
in reducers, one bespoke program per benchmark query (LUBM Q1-Q14,
SP2Bench Q1-Q12). This module replaces all of that with:

* a **triples spec** (`PRED_SPECS`): the star-schema→triples unpivot
  from FIXTURES.md, held as data and rendered two ways — DataFrame plans
  for the engine and SQL text for oracles — so both sides share one
  canonical encoding;
* a **BGP compiler** (:func:`bgp`): patterns go in, a Catalyst logical
  plan of equi-joins comes out. Join *shapes* J1-J9 (star, chain,
  cyclic, object-object, optional, anti, semi, theta, broadcast) are
  expressed declaratively; join *strategies* (JS1-JS3: sort-merge vs
  broadcast vs multi-way single-shuffle) are left to Catalyst + AQE,
  which subsumes every manual optimization the reference performs
  (SURVEY.md §4.1).

Scale posture: each pattern reads only the 2-3 base-table columns it
needs (vertical partitioning — the S2RDF/SPARQLGX design); predicate
constants prune at the parquet scan. Same-subject star patterns join on
one key and collapse into one shuffle; AQE converts small sides to
broadcast at runtime. At 100 TB the per-predicate projections would be
materialized as sorted parquet (see README); the query code is unchanged.

Further scale lever (documented, not needed at test SF): IRIs here are
concat-built strings, so joins hash/compare strings. Production RDF
stores dictionary-encode IRIs to int64 ids at load (a broadcast-joined
dictionary table, ids join ~3-5x cheaper than strings, strings restored
only in the final projection). The BGP compiler is layout-agnostic —
swapping ``pred_df`` for an id-encoded variant + a final dictionary
re-join changes no query code.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_mapreduce_joins_spark.plans.registry import query
from rdf_mapreduce_joins_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Triples spec (canonical encoding per FIXTURES.md — single source of truth
# rendered as both DataFrame plans and oracle SQL)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class PredSpec:
    """One (table → predicate) row of the star-schema unpivot.

    ``subj_cols`` render as ``<table>/<c1>[/<c2>...]``; ``obj_prefix``
    is set for foreign-key objects (rendering ``<target>/<value>``) and
    ``None`` for literal objects (value cast to string).
    """

    pred: str
    table: str
    subj_cols: tuple[str, ...]
    obj_col: str
    obj_prefix: str | None = None
    # Derived-edge extensions: ``obj_expr`` is a SQL expression (written
    # in the Spark∩DuckDB-portable subset) that replaces ``obj_col`` as
    # the object value; ``where`` restricts the source rows. Both render
    # identically on the engine side (F.expr) and the oracle side
    # (spec_sql), so derived predicates stay differential-testable.
    obj_expr: str | None = None
    where: str | None = None


PRED_SPECS: tuple[PredSpec, ...] = (
    PredSpec("name", "customer", ("c_custkey",), "c_name"),
    PredSpec("nation", "customer", ("c_custkey",), "c_nationkey", "nation/"),
    PredSpec("mktsegment", "customer", ("c_custkey",), "c_mktsegment"),
    PredSpec("name", "nation", ("n_nationkey",), "n_name"),
    PredSpec("region", "nation", ("n_nationkey",), "n_regionkey", "region/"),
    PredSpec("name", "region", ("r_regionkey",), "r_name"),
    PredSpec("customer", "orders", ("o_orderkey",), "o_custkey", "customer/"),
    PredSpec("status", "orders", ("o_orderkey",), "o_orderstatus"),
    PredSpec("nation", "supplier", ("s_suppkey",), "s_nationkey", "nation/"),
    PredSpec("name", "supplier", ("s_suppkey",), "s_name"),
    PredSpec("order", "lineitem", ("l_orderkey", "l_linenumber"), "l_orderkey", "orders/"),
    PredSpec("supplier", "lineitem", ("l_orderkey", "l_linenumber"), "l_suppkey", "supplier/"),
    # Derived recursive edge: supplier s reports to supplier ⌊s/2⌋ — a
    # deterministic binary-tree org hierarchy over the supplier keys
    # (root = supplier/0). This is the engine's one self-referential
    # predicate, existing to exercise SPARQL property paths (<manager>+
    # transitive closure) with a WITH RECURSIVE DuckDB oracle; the
    # closure operator itself is generic (operators/graph.py).
    PredSpec(
        "manager",
        "supplier",
        ("s_suppkey",),
        "s_suppkey",
        "supplier/",
        obj_expr="CAST(FLOOR(s_suppkey / 2) AS BIGINT)",
        where="s_suppkey >= 1",
    ),
    # Numeric literal predicates: account balances rendered with a
    # PINNED decimal format (printf exists with identical %.2f
    # semantics in Spark SQL and DuckDB — a raw double→string cast
    # does NOT render identically across engines, e.g. scientific
    # notation cutoffs). These exist so SPARQL SUM/AVG has something
    # numeric to aggregate; the string→decimal cast in the aggregate
    # path is exact.
    PredSpec(
        "acctbal",
        "customer",
        ("c_custkey",),
        "c_acctbal",
        obj_expr="printf('%.2f', c_acctbal)",
    ),
    PredSpec(
        "acctbal",
        "supplier",
        ("s_suppkey",),
        "s_acctbal",
        obj_expr="printf('%.2f', s_acctbal)",
    ),
)

# Predicates whose literal objects are numeric lexical forms (the only
# ones SPARQL SUM/AVG accepts — summing <name> strings is a type error,
# rejected at compile, not silently NULL).
NUMERIC_PREDS = frozenset({"acctbal"})


# --------------------------------------------------------------------------
# Dictionary encoding (the production-RDF-store IRI optimization):
# subjects and FK objects join as int64 ids — tag<<56 | key — instead of
# concat-built strings, and decode back to IRI text only in the final
# projection. Long equi-joins hash/compare ~3-5x cheaper than strings;
# the construction here is *algebraic* (keys are already integers in the
# base tables), so unlike a learned dictionary there is no id table to
# join. Literal objects (names, segments...) stay strings — they only
# ever join other literals.
# --------------------------------------------------------------------------

_TABLES = sorted({s.table for s in PRED_SPECS})
_TAG = {t: i for i, t in enumerate(_TABLES)}
_KEY_BITS = 56  # key < 2^56; composite second component gets 8 bits
_SUBKEY_BITS = 8


def _table_subj_cols(table: str) -> tuple[str, ...]:
    return next(s for s in PRED_SPECS if s.table == table).subj_cols


def _subject_id(spec: PredSpec) -> F.Column:
    key = F.col(spec.subj_cols[0]).cast("long")
    for c in spec.subj_cols[1:]:
        # composite key (lineitem): orderkey<<8 | linenumber (1..7)
        key = F.shiftleft(key, _SUBKEY_BITS) + F.col(c).cast("long")
    return F.lit(_TAG[spec.table] << _KEY_BITS) + key


def _obj_value(spec: PredSpec) -> F.Column:
    return F.expr(spec.obj_expr) if spec.obj_expr else F.col(spec.obj_col)


def _object_id(spec: PredSpec) -> F.Column:
    """FK objects encode with the TARGET table's tag so they join that
    table's subject ids directly."""
    assert spec.obj_prefix is not None
    target = spec.obj_prefix.rstrip("/")
    return F.lit(_TAG[target] << _KEY_BITS) + _obj_value(spec).cast("long")


def _const_to_id(term: str) -> int:
    """Parse a constant IRI like ``region/0`` (or ``lineitem/5/2``) to
    its encoded id."""
    parts = term.split("/")
    table, keys = parts[0], [int(p) for p in parts[1:]]
    key = keys[0]
    for k in keys[1:]:
        key = (key << _SUBKEY_BITS) | k
    return (_TAG[table] << _KEY_BITS) | key


def _decode_table(t: str, key: F.Column) -> F.Column:
    if len(_table_subj_cols(t)) == 1:
        return F.concat(F.lit(t + "/"), key.cast("string"))
    return F.concat(
        F.lit(t + "/"),
        F.shiftright(key, _SUBKEY_BITS).cast("string"),
        F.lit("/"),
        key.bitwiseAND(F.lit((1 << _SUBKEY_BITS) - 1)).cast("string"),
    )


def _decode_id(col: F.Column, tables: frozenset[str] | None = None) -> F.Column:
    """id → IRI string, NULL-preserving. When the variable's possible
    tables are statically known (they almost always are — the
    predicate constrains them) and unique, decode is a direct concat;
    the tag-dispatch CASE chain only appears for genuinely
    multi-table variables. The CASE-per-row cost was measurable: it
    erased the encoded-join win on output-heavy queries."""
    key = col.bitwiseAND(F.lit((1 << _KEY_BITS) - 1))
    cand = sorted(tables) if tables else _TABLES
    if len(cand) == 1:
        # NULL key (outer-join miss) propagates to NULL output via concat
        return _decode_table(cand[0], key)
    tag = F.shiftright(col, _KEY_BITS)
    expr = None
    for t in cand:
        cond = tag == F.lit(_TAG[t])
        expr = (
            F.when(cond, _decode_table(t, key))
            if expr is None
            else expr.when(cond, _decode_table(t, key))
        )
    assert expr is not None
    return expr


def _obj_is_fk(pred: str, table: str | None) -> bool:
    specs = [
        s for s in PRED_SPECS if s.pred == pred and (table is None or s.table == table)
    ]
    if not specs:
        raise KeyError(f"unknown predicate: {pred}")
    kinds = {s.obj_prefix is not None for s in specs}
    assert len(kinds) == 1, f"mixed literal/FK object forms for predicate {pred}"
    return kinds.pop()


def _subject_col(spec: PredSpec) -> F.Column:
    parts: list[F.Column | str] = [F.lit(spec.table + "/")]
    for i, c in enumerate(spec.subj_cols):
        if i:
            parts.append(F.lit("/"))
        parts.append(F.col(c).cast("string"))
    return F.concat(*parts)


def _object_col(spec: PredSpec) -> F.Column:
    obj = _obj_value(spec).cast("string")
    return F.concat(F.lit(spec.obj_prefix), obj) if spec.obj_prefix else obj


def spec_df(
    spark: SparkSession, sf_dir: str, spec: PredSpec, encoded: bool = False
) -> DataFrame:
    """One unpivot branch as a 2-col (subject, object) DataFrame.

    Only the needed base-table columns are selected, so the parquet scan
    reads 1-3 columns (ReadSchema pruning — verified via .explain).
    ``encoded``: subject (and FK object) as int64 dictionary ids instead
    of IRI strings — the join-key form the BGP compiler uses."""
    base = load_table(spark, sf_dir, spec.table)
    if spec.where:
        base = base.filter(F.expr(spec.where))
    if encoded:
        obj = _object_id(spec) if spec.obj_prefix else _object_col(spec)
        return base.select(_subject_id(spec).alias("subject"), obj.alias("object"))
    return base.select(_subject_col(spec).alias("subject"), _object_col(spec).alias("object"))


def pred_df(
    spark: SparkSession,
    sf_dir: str,
    pred: str,
    table: str | None = None,
    encoded: bool = False,
) -> DataFrame:
    """All triples with the given predicate (union of matching spec rows).

    This *is* vertical partitioning: a query touching predicates
    {nation, name} never scans orders/lineitem at all."""
    specs = [s for s in PRED_SPECS if s.pred == pred and (table is None or s.table == table)]
    if not specs:
        raise KeyError(f"unknown predicate: {pred}")
    dfs = [spec_df(spark, sf_dir, s, encoded=encoded) for s in specs]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def triples(spark: SparkSession, sf_dir: str, preds: list[str] | None = None) -> DataFrame:
    """The full (or predicate-restricted) triples view with 3 columns."""
    specs = [s for s in PRED_SPECS if preds is None or s.pred in preds]
    dfs = [
        spec_df(spark, sf_dir, s).select(
            "subject", F.lit(s.pred).alias("predicate"), "object"
        )
        for s in specs
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def spec_sql(spec: PredSpec) -> str:
    """Oracle-side rendering of one unpivot branch (DuckDB SQL)."""
    subj = f"'{spec.table}/' || " + " || '/' || ".join(spec.subj_cols)
    obj_src = f"({spec.obj_expr})" if spec.obj_expr else spec.obj_col
    if spec.obj_prefix:
        obj = f"'{spec.obj_prefix}' || {obj_src}"
    else:
        obj = f"CAST({obj_src} AS VARCHAR)"
    where = f" WHERE {spec.where}" if spec.where else ""
    return (
        f"SELECT {subj} AS subject, '{spec.pred}' AS predicate, {obj} AS object "
        f"FROM {spec.table}{where}"
    )


def triples_sql(preds: list[str] | None = None) -> str:
    """Oracle CTE body for the triples view (UNION ALL of branches)."""
    specs = [s for s in PRED_SPECS if preds is None or s.pred in preds]
    return "\nUNION ALL\n".join(spec_sql(s) for s in specs)


def property_table(
    spark: SparkSession, sf_dir: str, preds: list[str], table: str
) -> DataFrame:
    """The reference's primary physical layout (SURVEY.md §1.1 [K]) —
    one row per subject, one column per predicate — materialized as a
    pivot over the triples view.

    The reference keys an HBase table by subject so a subject-star
    query is a single row fetch; the Spark equivalent turns a k-pattern
    star BGP into a single scan of the pivoted frame with ordinary
    column predicates (no joins at all). Pivot values are passed
    explicitly, so Spark skips the values-discovery pass and plans one
    shuffle; ``min`` aggregation makes multi-valued predicates
    deterministic."""
    branches = [
        pred_df(spark, sf_dir, p, table=table).select(
            "subject", F.lit(p).alias("predicate"), "object"
        )
        for p in preds
    ]
    u = branches[0]
    for b in branches[1:]:
        u = u.unionByName(b)
    return u.groupBy("subject").pivot("predicate", preds).agg(F.min("object"))


# --------------------------------------------------------------------------
# BGP compiler
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Pattern:
    """A triple pattern: ``?var`` marks variables, anything else is a
    constant. The predicate may itself be a variable (``?p``) — the
    SP2Bench Q9 "predicate survey" shape: the pattern then matches
    every unpivot branch (optionally pruned by ``s_table`` /
    ``o_table``) and binds the predicate name. Variable-predicate
    patterns run on the STRING path only (their object domain mixes
    FK IRIs and literals, which can't share one int64 encoding), so
    ``bgp()`` downgrades ``encoded`` when one appears; they cannot
    carry path modifiers or alternation.

    ``s_table`` optionally restricts the subject to one unpivot branch
    (the SPARQL ``?x rdf:type <Class>`` analog). This prunes unrelated
    base-table scans at plan-build time — Catalyst cannot constant-fold
    a ``LIKE 'table/%'`` over the concat-built subject, so without the
    constraint every branch of the predicate union is scanned and
    discarded post-union (observed via .explain; matters at scale).

    ``mod`` is a SPARQL path modifier on the step:

    * ``"+"`` — transitive (≥1 edges): compiled to the iterative-
      doubling closure operator,
    * ``"*"`` — reflexive-transitive (≥0 edges): closure ∪ identity,
    * ``"?"`` — optional hop (0 or 1 edges): edges ∪ identity.

    The zero-length match of ``*``/``?`` binds subject = object over
    the predicate's *node domain* (subjects ∪ objects of its edges) —
    the endpoint-domain reading every benchmark query means (LUBM's
    ``subOrganizationOf*`` includes the organization itself), rather
    than the SPARQL-spec "every term in the graph" (which would
    materialize the whole store). All three modifiers require a
    self-referential FK predicate (object domain == subject domain) —
    validated here so hand-built BGPs fail as early as parsed ones.

    ``alts`` lists alternative predicates (SPARQL ``p1|p2``): the
    pattern matches an edge of ANY listed predicate (bag union, as the
    spec requires). Alternatives must agree on object kind
    (literal vs FK) so the variable typing stays consistent."""

    s: str
    p: str
    o: str
    s_table: str | None = None
    mod: str = ""
    alts: tuple[str, ...] = ()
    # Object-type restriction, only meaningful on variable-predicate
    # patterns (``?s ?p ?o . ?o a <table>``): prunes the branch union
    # to FK predicates targeting that table at plan-build time. For
    # constant predicates the object type is implied by the spec.
    o_table: str | None = None
    # Negated property set (SPARQL ``!(<p1>|<p2>)``): the pattern
    # matches any predicate NOT listed. Only meaningful with a
    # variable predicate — the parser lowers ``!(...)`` to a fresh
    # unprojected predicate variable carrying this exclusion, and the
    # excluded branches drop from the union at plan-build time.
    not_preds: tuple[str, ...] = ()
    # Grouped-sequence path ``(p1/p2)mod``: the edge relation is the
    # COMPOSITION of the listed (predicate, inverse) sub-steps, and
    # ``mod`` applies to that composed relation (SPARQL 1.1 allows any
    # path under a modifier; atoms-only was this engine's last
    # deliberate path exclusion). Each sub-step must be an FK
    # predicate and the table chain must resolve unambiguously;
    # closure modifiers additionally require the composition to start
    # and end at the same table. When ``seq`` is set, ``p``/``alts``
    # are display-only (p = first sub-predicate).
    seq: tuple[tuple[str, bool], ...] = ()

    @property
    def preds(self) -> tuple[str, ...]:
        return (self.p, *self.alts)

    @property
    def p_is_var(self) -> bool:
        return self.p.startswith("?")

    def __post_init__(self) -> None:
        if self.mod not in ("", "+", "*", "?"):
            raise ValueError(f"unknown path modifier {self.mod!r}")
        if self.not_preds and not self.p_is_var:
            raise ValueError(
                "a negated property set needs a variable predicate"
            )
        if self.p_is_var:
            if self.mod or self.alts:
                raise ValueError(
                    "a variable predicate cannot carry path modifiers "
                    "or alternation"
                )
            return
        if self.alts:
            kinds = {_obj_is_fk(p, None) for p in self.preds}
            if len(kinds) > 1:
                raise ValueError(
                    f"alternation {self.preds} mixes literal and FK objects"
                )
        if self.seq:
            if self.alts:
                raise ValueError("a sequence path cannot carry alternation")
            chain = _resolve_seq_chain(self.seq, self.s_table)
            if self.mod and chain[0][1] != chain[-1][2]:
                raise ValueError(
                    f"({'/'.join(p for p, _ in self.seq)}){self.mod} needs a "
                    "self-referential composition (start table == end table), "
                    f"got {chain[0][1]} -> {chain[-1][2]}"
                )
            return
        if self.mod:
            specs = [
                sp
                for sp in PRED_SPECS
                if sp.pred in self.preds
                and (self.s_table is None or sp.table == self.s_table)
            ]
            bad = [
                sp
                for sp in specs
                if sp.obj_prefix is None or sp.obj_prefix.rstrip("/") != sp.table
            ]
            if not specs or bad:
                raise ValueError(
                    f"<{self.p}>{self.mod} needs a self-referential FK "
                    f"predicate (object domain == subject domain)"
                )


def _is_var(term: str) -> bool:
    return term.startswith("?")


def _resolve_seq_chain(
    seq: tuple[tuple[str, bool], ...], s_table: str | None
) -> list[tuple[PredSpec, str, str]]:
    """Resolve a grouped-sequence path to its unique spec chain.

    Returns one (spec, from_table, to_table) per sub-step, walking the
    FK graph: a forward step flows subject-table -> FK target, an
    inverse step the reverse. Raises when a step is unknown, not an FK
    predicate, or ambiguous given the tables flowed so far (e.g. a
    leading <nation> with no subject type — it lives on both customer
    and supplier)."""
    chain: list[tuple[PredSpec, str, str]] = []
    cur = s_table
    for pred, inv in seq:
        cands = [sp for sp in PRED_SPECS if sp.pred == pred and sp.obj_prefix]
        if not inv:
            cands = [sp for sp in cands if cur is None or sp.table == cur]
            nexts = {sp.obj_prefix.rstrip("/") for sp in cands}
        else:
            cands = [
                sp for sp in cands if cur is None or sp.obj_prefix.rstrip("/") == cur
            ]
            nexts = {sp.table for sp in cands}
        if not cands:
            raise ValueError(
                f"sequence step <{pred}>{'^' if inv else ''} matches no FK "
                f"predicate from table {cur!r}"
            )
        if len(cands) > 1:
            raise ValueError(
                f"sequence step <{pred}> is ambiguous from table {cur!r} "
                f"(matches {sorted((sp.table, sp.pred) for sp in cands)}) — "
                "add a type constraint on the subject"
            )
        sp = cands[0]
        frm = cur or (sp.table if not inv else sp.obj_prefix.rstrip("/"))
        cur = nexts.pop()
        chain.append((sp, frm, cur))
    return chain


def _const_subject_table(s: str) -> str:
    """Plan-build-time pruning key of a constant subject IRI: every
    unpivot branch renders its subject as ``<table>/<ids...>``, so a
    constant subject can only match branches of its leading segment's
    table (round 11 — Catalyst cannot fold ``concat('customer/', id) =
    'supplier/5'`` to false, so without this every branch of the union
    was scanned and discarded post-union). A constant with no known
    table prefix simply matches zero branches — the empty frame, same
    rows the post-union filter produced."""
    return s.split("/", 1)[0]


def _varpred_specs(pat: Pattern) -> list[PredSpec]:
    """The unpivot branches a variable-predicate pattern can match,
    after plan-build-time pruning by subject type (``s_table``), by a
    CONSTANT subject's table prefix, and object type (``o_table`` →
    only FK branches targeting that table)."""
    s_tab = None if _is_var(pat.s) else _const_subject_table(pat.s)
    specs = [
        sp
        for sp in PRED_SPECS
        if (pat.s_table is None or sp.table == pat.s_table)
        and (s_tab is None or sp.table == s_tab)
        and (
            pat.o_table is None
            or (sp.obj_prefix is not None and sp.obj_prefix.rstrip("/") == pat.o_table)
        )
        and sp.pred not in pat.not_preds
    ]
    # May be EMPTY (e.g. `?s ?p ?x . ?x a <lineitem>` — nothing FK-
    # references lineitem): an unsatisfiable pattern compiles to an
    # empty frame, matching the constant-predicate convention ("the
    # join simply comes back empty"), never a plan-build error.
    return specs


def _varpred_df(spark: SparkSession, sf_dir: str, pat: Pattern) -> DataFrame:
    """A variable-predicate pattern's frame: the (pruned) triples view
    with the predicate name as a bindable column. String path — see
    the Pattern docstring. An unsatisfiable pattern (no branches
    survive the type pruning) is a 0-row frame."""
    specs = _varpred_specs(pat)
    if not specs:
        cols = [
            *( [f"{pat.s[1:]} string"] if _is_var(pat.s) else [] ),
            f"{pat.p[1:]} string",
            *( [f"{pat.o[1:]} string"] if _is_var(pat.o) else [] ),
        ]
        return spark.createDataFrame([], ", ".join(cols))
    dfs = [
        spec_df(spark, sf_dir, sp).select(
            "subject", F.lit(sp.pred).alias("predicate"), "object"
        )
        for sp in specs
    ]
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d)
    if not _is_var(pat.s):
        df = df.filter(F.col("subject") == F.lit(pat.s))
    if not _is_var(pat.o):
        df = df.filter(F.col("object") == F.lit(pat.o))
    cols = []
    if _is_var(pat.s):
        cols.append(F.col("subject").alias(pat.s[1:]))
    cols.append(F.col("predicate").alias(pat.p[1:]))
    if _is_var(pat.o):
        cols.append(F.col("object").alias(pat.o[1:]))
    return df.select(*cols)


def _pred_df_pruned(
    spark: SparkSession,
    sf_dir: str,
    pred: str,
    table: str | None,
    encoded: bool,
) -> DataFrame:
    """``pred_df`` with unsatisfiable-table softening: a known
    predicate that has no branch on ``table`` (e.g. a constant subject
    whose prefix names a table the predicate never leaves from)
    compiles to a ZERO-ROW frame with the predicate's own schema — the
    'join simply comes back empty' convention — instead of raising.
    The false filter folds to an empty LocalRelation, so the pruned
    branch's scan disappears from the plan entirely."""
    specs = [s for s in PRED_SPECS if s.pred == pred]
    if not specs:
        raise KeyError(f"unknown predicate: {pred}")
    if table is not None and not any(s.table == table for s in specs):
        return spec_df(spark, sf_dir, specs[0], encoded=encoded).filter(
            F.lit(False)
        )
    return pred_df(spark, sf_dir, pred, table=table, encoded=encoded)


def _pattern_df(
    spark: SparkSession, sf_dir: str, pat: Pattern, encoded: bool = False
) -> DataFrame:
    if pat.p_is_var:
        assert not encoded, "variable predicates require the string path"
        return _varpred_df(spark, sf_dir, pat)
    if pat.seq:
        # Grouped-sequence path (p1/p2)mod: compose the sub-step edge
        # frames into one (subject, object) relation by chaining
        # equi-joins through the intermediate keys, then let the shared
        # modifier/filter/projection code below treat it like any other
        # edge set. Sub-steps are FK predicates, so the encoded int64
        # path applies end to end; an inverse sub-step just swaps its
        # two endpoints before joining.
        df = None
        for (pred, inv), (sp, _frm, _to) in zip(
            pat.seq, _resolve_seq_chain(pat.seq, pat.s_table)
        ):
            step = pred_df(spark, sf_dir, pred, table=sp.table, encoded=encoded)
            if inv:
                step = step.select(
                    F.col("object").alias("subject"), F.col("subject").alias("object")
                )
            if df is None:
                df = step
            else:
                mid = step.select(
                    F.col("subject").alias("__mid"), "object"
                )
                df = df.join(mid, df["object"] == mid["__mid"]).select(
                    df["subject"], mid["object"]
                )
        obj_fk = True
    else:
        # A CONSTANT subject narrows the branch set to its table prefix
        # at plan-build time (round 11; see _const_subject_table) — for
        # a plain atom only: a closure/sequence modifier traverses the
        # edge set beyond the start node, so its base relation must
        # stay unpruned (self-referential FKs are single-table anyway).
        eff_table = pat.s_table
        if not _is_var(pat.s) and not pat.mod:
            s_tab = _const_subject_table(pat.s)
            eff_table = s_tab if eff_table in (None, s_tab) else "__none__"
        df = _pred_df_pruned(spark, sf_dir, pat.p, eff_table, encoded)
        for alt in pat.alts:
            # p1|p2 alternation: bag union of the per-predicate edge
            # sets — Catalyst unions the vertical partitions; no
            # distinct (SPARQL alternation is bag semantics).
            df = df.unionByName(
                _pred_df_pruned(spark, sf_dir, alt, eff_table, encoded)
            )
        obj_fk = _obj_is_fk(pat.p, pat.s_table)
    if pat.mod:
        from rdf_mapreduce_joins_spark.operators.graph import transitive_closure

        if pat.mod in ("+", "*"):
            closed = transitive_closure(df, src="subject", dst="object").select(
                F.col("src").alias("subject"), F.col("dst").alias("object")
            )
        if pat.mod == "+":
            df = closed
        else:
            # Zero-length match over the predicate's node domain: the
            # identity pairs (x, x) for every subject or object of an
            # edge. Path results under * / ? are solution SETS per the
            # spec's ALP semantics, so dedupe the union.
            nodes = df.select("subject").unionByName(
                df.select(F.col("object").alias("subject"))
            )
            ident = nodes.select("subject", F.col("subject").alias("object"))
            base = closed if pat.mod == "*" else df
            df = base.unionByName(ident).distinct()
    if not _is_var(pat.s):
        s_const = F.lit(_const_to_id(pat.s)) if encoded else F.lit(pat.s)
        df = df.filter(F.col("subject") == s_const)
    if not _is_var(pat.o):
        o_const = (
            F.lit(_const_to_id(pat.o)) if (encoded and obj_fk) else F.lit(pat.o)
        )
        df = df.filter(F.col("object") == o_const)
    cols = []
    if _is_var(pat.s):
        cols.append(F.col("subject").alias(pat.s[1:]))
    if _is_var(pat.o):
        cols.append(F.col("object").alias(pat.o[1:]))
    if not cols:  # fully-ground pattern: existence as 0-row/1-row marker
        cols = [F.lit(1).alias("_exists")]
    return df.select(*cols)


def _var_kinds(
    groups: list[list[Pattern]],
) -> dict[str, tuple[str, frozenset[str]]]:
    """Per variable: ('id'|'str'|'any', possible tables). Subjects are
    always ids, objects per the predicate's spec; a variable must be
    one kind everywhere it appears (asserted across all groups).
    ``any`` is the object of a variable-predicate pattern (its domain
    mixes FK IRIs and literals) — it unifies with either kind and
    carries no table information.

    Table domains respect binding semantics. A variable bound in the
    required group (``groups[0]``) takes the intersection of its
    required-group constraints ONLY: an occurrence inside an
    OPTIONAL/anti/semi sub-group must NOT narrow it — those groups may
    simply fail to match, and e.g. ``FILTER NOT EXISTS`` over a
    customer-only predicate would otherwise wrongly shrink a
    customer-or-supplier variable (dropping valid solutions from scans
    pruned with the narrowed set, and mis-prefixing decode). A variable
    bound only in sub-groups intersects across the groups that bind it
    — it is only ever non-NULL when those matched."""
    per: list[dict[str, tuple[str, frozenset[str]]]] = []
    for group in groups:
        g: dict[str, tuple[str, frozenset[str]]] = {}

        def put(
            var: str,
            kind: str,
            tables: frozenset[str],
            g: dict[str, tuple[str, frozenset[str]]] = g,
        ) -> None:
            name = var[1:]
            if name in g:
                k0, t0 = g[name]
                if k0 == kind:
                    tables = t0 & tables if kind == "id" else t0
                elif "any" in (k0, kind):
                    # 'any' defers to the specific kind's info
                    if kind == "any":
                        kind, tables = k0, t0
                else:
                    raise AssertionError(
                        f"variable ?{name} is both id and literal"
                    )
                assert (
                    kind != "id" or tables
                ), f"variable ?{name} has no possible table"
            g[name] = (kind, tables)

        for pat in group:
            if pat.p_is_var:
                specs = _varpred_specs(pat)
                if _is_var(pat.s):
                    # an unsatisfiable pattern (no specs) contributes
                    # NO domain info — full universe, so intersections
                    # with other occurrences stay valid (the frame is
                    # empty anyway)
                    put(
                        pat.s,
                        "id",
                        frozenset(s.table for s in specs) or frozenset(_TABLES),
                    )
                put(pat.p, "str", frozenset())
                if _is_var(pat.o):
                    put(pat.o, "any", frozenset())
                continue
            if pat.seq:
                chain = _resolve_seq_chain(pat.seq, pat.s_table)
                if _is_var(pat.s):
                    put(pat.s, "id", frozenset({chain[0][1]}))
                if _is_var(pat.o):
                    put(pat.o, "id", frozenset({chain[-1][2]}))
                continue
            specs = [
                s
                for s in PRED_SPECS
                if s.pred in pat.preds
                and (pat.s_table is None or s.table == pat.s_table)
            ]
            if _is_var(pat.s):
                put(pat.s, "id", frozenset(s.table for s in specs))
            if _is_var(pat.o):
                if _obj_is_fk(pat.p, pat.s_table):
                    targets = frozenset(
                        s.obj_prefix.rstrip("/") for s in specs if s.obj_prefix
                    )
                    put(pat.o, "id", targets)
                else:
                    put(pat.o, "str", frozenset())
        per.append(g)

    kinds: dict[str, tuple[str, frozenset[str]]] = {}
    required = per[0] if per else {}
    for g in per:
        for name, (kind, tables) in g.items():
            if name not in kinds:
                kinds[name] = (kind, tables)
                continue
            k0, t0 = kinds[name]
            if k0 != kind:
                assert "any" in (k0, kind), (
                    f"variable ?{name} is both id and literal"
                )
                # Upgrade 'any' to the specific kind ONLY for variables
                # not bound by the required group: required-group
                # domains are authoritative (an OPTIONAL/MINUS/EXISTS
                # occurrence must never narrow a required variable —
                # it would prune required branches and drop valid
                # solutions; see the docstring's binding-semantics
                # note, and test_optional_does_not_narrow_varpred).
                if k0 == "any" and name not in required:
                    kinds[name] = (kind, tables)
                continue
            if name in required or kind != "id":
                continue  # required-group domain is authoritative
            t = t0 & tables
            assert t, f"variable ?{name} has no possible table"
            kinds[name] = (kind, t)
    return kinds


def _infer_s_tables(groups: list[list[Pattern]]) -> list[list[Pattern]]:
    """Subject-table inference: if every occurrence of a variable pins
    it to ONE table (e.g. ?c appears with a customer-only predicate, or
    as the FK target of ``<customer>``), every pattern with that
    variable as subject can restrict its scan to that table's unpivot
    branch — the same plan-build-time pruning an explicit ``?c a
    <customer>`` buys, derived instead of declared.

    Semantics-preserving by construction: subjects/FK-objects carry
    their table identity in the value (id tag / IRI prefix), so rows
    from other branches could never have joined anyway — the inference
    only removes provably-dead scans. Patterns whose predicate has no
    spec in the inferred table (unsatisfiable query) are left alone;
    the join simply comes back empty."""
    kinds = _var_kinds(groups)

    def refine(pats: list[Pattern]) -> list[Pattern]:
        out = []
        for p in pats:
            if _is_var(p.s) and p.s_table is None:
                _kind, tabs = kinds.get(p.s[1:], ("str", frozenset()))
                if len(tabs) == 1:
                    (t,) = tabs
                    if p.p_is_var or all(
                        any(sp.table == t and sp.pred == pr for sp in PRED_SPECS)
                        for pr in p.preds
                    ):
                        p = replace(p, s_table=t)
            if p.p_is_var and _is_var(p.o) and p.o_table is None:
                # An id-typed object var pins the variable-predicate
                # pattern to FK branches targeting its table — the
                # object-side analog of subject-table inference.
                kind, tabs = kinds.get(p.o[1:], ("str", frozenset()))
                if kind == "id" and len(tabs) == 1:
                    p = replace(p, o_table=next(iter(tabs)))
            out.append(p)
        return out

    return [refine(g) for g in groups]


def _join_chain(
    spark: SparkSession,
    sf_dir: str,
    patterns: list[Pattern],
    broadcast_idx: set[int],
    encoded: bool = False,
) -> DataFrame:
    """Inner-join patterns left-to-right on shared variables.

    Catalyst/AQE then reorders and picks physical strategies (JS1-JS3);
    the left-to-right chain only fixes the *logical* shape."""
    out: DataFrame | None = None
    for i, pat in enumerate(patterns):
        df = _pattern_df(spark, sf_dir, pat, encoded=encoded)
        if i in broadcast_idx:
            df = F.broadcast(df)
        if out is None:
            out = df
        else:
            shared = [c for c in df.columns if c in out.columns]
            if not shared:
                raise ValueError(f"pattern {pat} shares no variable with prior patterns")
            out = out.join(df, on=shared, how="inner")
    assert out is not None
    return out


def bgp(
    spark: SparkSession,
    sf_dir: str,
    patterns: list[Pattern],
    optional: list[list[Pattern]] | None = None,
    negation: list[list[Pattern]] | None = None,
    exists: list[list[Pattern]] | None = None,
    filters: list[str] | None = None,
    binds: list[tuple[str, str]] | None = None,
    select: list[str] | None = None,
    distinct: bool = False,
    broadcast_idx: set[int] | None = None,
    encoded: bool = True,
) -> DataFrame:
    """Compile a basic graph pattern to a DataFrame.

    * ``patterns``  — required (inner-join) patterns,
    * ``optional``  — SPARQL OPTIONAL groups → left outer join (J5),
    * ``negation``  — OPTIONAL+!bound / NOT EXISTS groups → anti join (J6),
    * ``exists``    — ASK/EXISTS groups → semi join (J7),
    * ``filters``   — SQL boolean expressions over variable columns (P3/J8),
    * ``select``    — output variables (``?x`` names → columns),
    * ``encoded``   — dictionary-encode IRIs: all joins/filters/distinct
      run on int64 ids; the final projection decodes back to IRI
      strings, so outputs are bit-identical to the string path.
      Filters referencing id variables are not supported encoded (all
      declared queries filter literal variables only).

    Each optional/negation/exists group is either a plain pattern list
    or a ``(patterns, filters)`` tuple — group filters apply to the
    sub-group's frame BEFORE its join (the SPARQL semantics of a
    FILTER referencing only group-local variables; filters that see
    outer variables are the caller's job to reject).
    """

    def _norm(groups):
        out_: list[tuple[list[Pattern], list[str]]] = []
        for g in groups or []:
            if isinstance(g, tuple):
                out_.append((list(g[0]), list(g[1])))
            else:
                out_.append((list(g), []))
        return out_

    opt_g, neg_g, exi_g = _norm(optional), _norm(negation), _norm(exists)
    if encoded and any(
        p.p_is_var
        for grp in [patterns, *(p for p, _ in opt_g + neg_g + exi_g)]
        for p in grp
    ):
        # Variable predicates bind mixed FK-IRI/literal objects — no
        # shared int64 representation exists, so the whole group runs
        # on the string path (see Pattern docstring).
        encoded = False
    n_opt, n_neg = len(opt_g), len(neg_g)
    refined = _infer_s_tables(
        [patterns, *(p for p, _ in opt_g), *(p for p, _ in neg_g), *(p for p, _ in exi_g)]
    )
    patterns = refined[0]
    opt_g = [(refined[1 + i], f) for i, (_, f) in enumerate(opt_g)]
    neg_g = [(refined[1 + n_opt + i], f) for i, (_, f) in enumerate(neg_g)]
    exi_g = [(refined[1 + n_opt + n_neg + i], f) for i, (_, f) in enumerate(exi_g)]
    out = _join_chain(spark, sf_dir, patterns, broadcast_idx or set(), encoded=encoded)
    all_groups = [patterns, *(p for p, _ in opt_g + neg_g + exi_g)]
    for (group, gfilters), how in (
        *[(g, "left") for g in opt_g],
        *[(g, "left_anti") for g in neg_g],
        *[(g, "left_semi") for g in exi_g],
    ):
        gdf = _join_chain(spark, sf_dir, group, set(), encoded=encoded)
        for f in gfilters:
            gdf = gdf.filter(F.expr(f))
        shared = [c for c in gdf.columns if c in out.columns]
        if not shared:
            raise ValueError("group shares no variable with required patterns")
        out = out.join(gdf, on=shared, how=how)
    for f in filters or []:
        out = out.filter(F.expr(f))
    for alias, sql in binds or []:
        # BIND introduces a NEW variable (SPARQL forbids rebinding)
        if alias in out.columns:
            raise ValueError(f"BIND alias ?{alias} already bound")
        out = out.withColumn(alias, F.expr(sql))
    if select:
        names = [v[1:] if v.startswith("?") else v for v in select]
        out = out.select(*names)
        if distinct:
            # distinct over ids (8-byte comparisons), decode after
            out = out.distinct()
        if encoded:
            kinds = _var_kinds(all_groups)
            out = out.select(
                *[
                    _decode_id(F.col(n), kinds[n][1]).alias(n)
                    if kinds.get(n, ("str",))[0] == "id"
                    else F.col(n)
                    for n in names
                ]
            )
    elif distinct:
        out = out.distinct()
    return out


# --------------------------------------------------------------------------
# Declared rdf_* queries (SURVEY.md §2.10 table 1). Engine side runs the
# BGP compiler over the triples view; oracle side is *independently
# derived* SQL over the base star schema (stronger differential check
# than re-running the same unpivot).
# --------------------------------------------------------------------------


@query(
    "rdf_scan_filter",
    oracle="""
    SELECT 'customer/' || c_custkey AS c
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def rdf_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUBM Q14 analog: single triple-pattern class scan (S1,P1,P2)."""
    return bgp(spark, sf_dir, [Pattern("?c", "mktsegment", "BUILDING")], select=["?c"])


@query(
    "rdf_subject_star",
    oracle="""
    SELECT 'customer/' || c_custkey AS c, c_name AS cname,
           c_mktsegment AS seg, 'nation/' || c_nationkey AS n
    FROM customer
    """,
)
def rdf_subject_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUBM Q4 / SP2B Q2 analog: subject-star join, k patterns on one
    subject (J1). Same-key joins collapse into one shuffle (JS3)."""
    return bgp(
        spark,
        sf_dir,
        [
            Pattern("?c", "name", "?cname"),
            Pattern("?c", "mktsegment", "?seg"),
            Pattern("?c", "nation", "?n"),
        ],
        select=["?c", "?cname", "?seg", "?n"],
    )


@query(
    "rdf_property_table",
    oracle="""
    SELECT 'customer/' || c_custkey AS subject,
           c_name AS name, c_mktsegment AS mktsegment,
           'nation/' || c_nationkey AS nation
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def rdf_property_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's property-table layout (row per subject, column
    per predicate — its HBase design [K], SURVEY.md §1.1) as a Spark
    pivot: the same star selection as rdf_subject_star becomes a
    single-frame column filter with zero joins. The engine carries
    BOTH layouts: vertical partitioning (pred_df) for selective BGPs,
    property table for wide subject-stars."""
    pt = property_table(
        spark, sf_dir, ["name", "mktsegment", "nation"], table="customer"
    )
    return pt.filter(F.col("mktsegment") == "BUILDING")


@query(
    "rdf_chain_join",
    oracle="""
    SELECT 'customer/' || c_custkey AS c, 'nation/' || n_nationkey AS n,
           'region/' || r_regionkey AS r, r_name AS rname
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def rdf_chain_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUBM Q8 analog: subject→object chain join customer→nation→region
    (J2, JS1)."""
    return bgp(
        spark,
        sf_dir,
        [
            Pattern("?c", "mktsegment", "?seg"),
            Pattern("?c", "nation", "?n"),
            Pattern("?n", "region", "?r"),
            Pattern("?r", "name", "?rname"),
        ],
        select=["?c", "?n", "?r", "?rname"],
    )


@query(
    "rdf_cyclic_join",
    oracle="""
    WITH lo AS MATERIALIZED (
      SELECT o_custkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    loc AS MATERIALIZED (
      SELECT c_custkey, l_suppkey, c_nationkey
      FROM lo JOIN customer ON o_custkey = c_custkey
    )
    SELECT DISTINCT 'customer/' || c_custkey AS c,
           'supplier/' || l_suppkey AS s,
           'nation/' || c_nationkey AS n
    FROM loc
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    """,
)
def rdf_cyclic_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUBM Q2/Q9 analog: cyclic (triangle) join — customer and supplier
    connected by an order AND co-located in the same nation (J3).

    Oracle note (r8 sf1 sweep): the SQL stages the chain joins through
    MATERIALIZED CTEs before the two-condition supplier join. As one
    flat 4-way join, DuckDB's reorderer at sf1 picks the
    nation-key join (25 distinct values) as an early build side — a
    ~6e9-row intermediate that runs >9 min where the staged form takes
    1.7 s. Same rows either way; the fence only pins the sane order.
    Spark's own plan is unaffected (Catalyst keys the supplier join on
    l_suppkey with the nation equality as a residual)."""
    return bgp(
        spark,
        sf_dir,
        [
            Pattern("?l", "order", "?o"),
            Pattern("?o", "customer", "?c"),
            Pattern("?l", "supplier", "?s"),
            Pattern("?c", "nation", "?n"),
            Pattern("?s", "nation", "?n"),
        ],
        select=["?c", "?s", "?n"],
        distinct=True,
    )


@query(
    "rdf_optional_join",
    oracle="""
    SELECT 'customer/' || c_custkey AS c, c_mktsegment AS seg,
           'orders/' || o_orderkey AS o, o_orderstatus AS st
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    """,
)
def rdf_optional_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP2B Q2 analog: OPTIONAL group → left outer join (J5); customers
    with no orders surface with NULL o/st."""
    return bgp(
        spark,
        sf_dir,
        [Pattern("?c", "mktsegment", "?seg")],
        optional=[[Pattern("?o", "customer", "?c"), Pattern("?o", "status", "?st")]],
        select=["?c", "?seg", "?o", "?st"],
    )


@query(
    "rdf_negation_anti",
    oracle="""
    SELECT 'customer/' || c_custkey AS c, c_name AS cname
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
    )
    """,
)
def rdf_negation_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP2B Q6/Q7 analog: FILTER(!bound) negation → anti join (J6,P4):
    customers with no completed ('F') order."""
    return bgp(
        spark,
        sf_dir,
        [Pattern("?c", "name", "?cname"), Pattern("?c", "mktsegment", "?seg")],
        negation=[[Pattern("?o", "customer", "?c"), Pattern("?o", "status", "F")]],
        select=["?c", "?cname"],
    )


@query(
    "rdf_exists_semi",
    oracle="""
    SELECT 'customer/' || c_custkey AS c, c_name AS cname, c_mktsegment AS seg
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
    )
    """,
)
def rdf_exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP2B Q12 (ASK) analog: existence → semi join (J7): customers with
    at least one pending ('P') order."""
    return bgp(
        spark,
        sf_dir,
        [Pattern("?c", "name", "?cname"), Pattern("?c", "mktsegment", "?seg")],
        exists=[[Pattern("?o", "customer", "?c"), Pattern("?o", "status", "P")]],
        select=["?c", "?cname", "?seg"],
    )


@query(
    "rdf_union_distinct",
    oracle="""
    SELECT DISTINCT 'nation/' || c_nationkey AS n FROM customer
    UNION
    SELECT DISTINCT 'nation/' || s_nationkey AS n FROM supplier
    """,
)
def rdf_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP2B Q8/Q9 analog: UNION of two graph-pattern branches +
    DISTINCT solution semantics (O4,A2): nations referenced by
    customers ∪ nations referenced by suppliers."""
    cust = pred_df(spark, sf_dir, "nation", table="customer").select(
        F.col("object").alias("n")
    )
    supp = pred_df(spark, sf_dir, "nation", table="supplier").select(
        F.col("object").alias("n")
    )
    return cust.unionByName(supp).distinct()


@query(
    "rdf_orderby_limit_offset",
    oracle="""
    SELECT 'customer/' || c_custkey AS c, c_name AS cname
    FROM customer
    ORDER BY cname NULLS LAST, c NULLS LAST
    LIMIT 10 OFFSET 50
    """,
)
def rdf_orderby_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP2B Q11 analog: ORDER BY + LIMIT + OFFSET (O1,O2), keyed
    tiebreak for determinism."""
    df = bgp(
        spark,
        sf_dir,
        [Pattern("?c", "name", "?cname"), Pattern("?c", "mktsegment", "?seg")],
        select=["?c", "?cname"],
    )
    return (
        df.orderBy(F.col("cname").asc_nulls_last(), F.col("c").asc_nulls_last())
        .offset(50)
        .limit(10)
    )


@query(
    "rdf_distinct_pairs",
    oracle="""
    SELECT DISTINCT 'nation/' || s1.s_nationkey AS n,
           s1.s_name AS name1, s2.s_name AS name2
    FROM supplier s1
    JOIN supplier s2
      ON s1.s_nationkey = s2.s_nationkey AND s1.s_name < s2.s_name
    """,
)
def rdf_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP2B Q4 analog: distinct pairs via object-object self-join +
    inequality theta filter (J4,J8,A2). Group-key-bounded (per nation)
    so candidate pairs never go cartesian (SURVEY.md §7.4). The
    ``s_table`` class constraint prunes the customer branches of the
    nation/name predicate unions at plan build."""
    return bgp(
        spark,
        sf_dir,
        [
            Pattern("?s1", "nation", "?n", s_table="supplier"),
            Pattern("?s1", "name", "?name1", s_table="supplier"),
            Pattern("?s2", "nation", "?n", s_table="supplier"),
            Pattern("?s2", "name", "?name2", s_table="supplier"),
        ],
        filters=["name1 < name2"],
        select=["?n", "?name1", "?name2"],
        distinct=True,
    )


@query(
    "rdf_broadcast_lookup",
    oracle="""
    SELECT 'nation/' || n_nationkey AS n, n_name AS nname
    FROM nation WHERE n_regionkey = 0
    """,
)
def rdf_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUBM Q1/Q10 analog: constant-bound pattern → broadcast join
    (J9,JS2). The filtered (?n region region/0) side is broadcast
    explicitly — the Spark equivalent of the reference's map-side
    HBase point-probe join."""
    return bgp(
        spark,
        sf_dir,
        [Pattern("?n", "region", "region/0"), Pattern("?n", "name", "?nname")],
        select=["?n", "?nname"],
        broadcast_idx={0},
    )


_TRI_CTE = triples_sql()


# Route flip for the degree aggregation (round 12, the
# TRIANGLE_DEGREE_ROUTE_MIN_WEDGES pattern): below this plan-time
# estimated triples-view size the string-keyed single aggregation wins
# (the int64 form pays a decode CASE + a string re-merge aggregation
# over the FULL output, which a ~0.6M-node output does not amortize);
# above it, shuffling int64 keys instead of IRI text through the
# 2x|T|-row union aggregation dominates. Measured (min-of-N noop,
# same-session alternating): sf0.1 (est 18.7 MB) string 4.23 s vs
# encoded 4.82 s; sf1 (est 197.5 MB) string 15.97 s vs encoded
# 12.10 s (-24%), results tuple-identical at both scales (654,825 and
# 6,263,074 rows). Unknown stats read as Long.Max and route encoded —
# the right default at 100 TB.
DEGREE_ENC_ROUTE_MIN_BYTES = 64 << 20


def _degrees_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution with the union aggregation keyed on int64
    dictionary ids (subjects and FK objects; literal objects keep their
    string) — the pagerank int64 lesson applied to the full triples
    view. Decode happens on the AGGREGATED rows, and one final
    string-keyed merge re-aggregates so a literal that collides with a
    rendered IRI merges exactly as the single-pass string form (and the
    DuckDB oracle) would merge it."""
    branches = []
    for s in PRED_SPECS:
        base = load_table(spark, sf_dir, s.table)
        if s.where:
            base = base.filter(F.expr(s.where))
        branches.append(base.select(
            _subject_id(s).alias("k_id"),
            F.lit(None).cast("string").alias("k_str"),
            F.lit(1).alias("is_out")))
        if s.obj_prefix:
            branches.append(base.select(
                _object_id(s).alias("k_id"),
                F.lit(None).cast("string").alias("k_str"),
                F.lit(0).alias("is_out")))
        else:
            branches.append(base.select(
                F.lit(None).cast("long").alias("k_id"),
                _object_col(s).alias("k_str"),
                F.lit(0).alias("is_out")))
    u = branches[0]
    for b in branches[1:]:
        u = u.unionByName(b)
    part = (
        u.groupBy("k_id", "k_str")
        .agg(F.sum("is_out").alias("o"), F.sum(1 - F.col("is_out")).alias("i"))
    )
    node = F.coalesce(_decode_id(F.col("k_id")), F.col("k_str"))
    return (
        part.select(node.alias("node"), "o", "i")
        .groupBy("node")
        .agg(
            F.sum("o").cast("bigint").alias("out_deg"),
            F.sum("i").cast("bigint").alias("in_deg"),
        )
        .orderBy("node")
    )


@query(
    "rdf_degree_distribution",
    oracle=f"""
    WITH tri AS MATERIALIZED ({_TRI_CTE}),
    outs AS (SELECT subject AS node, COUNT(*) AS c FROM tri GROUP BY subject),
    ins  AS (SELECT object AS node, COUNT(*) AS c FROM tri GROUP BY object)
    SELECT COALESCE(o.node, i.node) AS node,
           CAST(COALESCE(o.c, 0) AS BIGINT) AS out_deg,
           CAST(COALESCE(i.c, 0) AS BIGINT) AS in_deg
    FROM outs o FULL JOIN ins i ON o.node = i.node
    ORDER BY node
    """,
)
def rdf_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-analytics surface: per-node in/out degree over the FULL
    triples view (literals count as object nodes — same universe both
    engines). One union + one hash aggregation, no joins
    (operators/graph.py::degrees) while the view is small; above
    DEGREE_ENC_ROUTE_MIN_BYTES the aggregation keys on int64
    dictionary ids and decodes after (see _degrees_encoded — the
    routes are full-result-equality-proven at sf0.1 and sf1). The
    oracle is an independent full-outer-join of per-side counts over
    the shared triples CTE."""
    from rdf_mapreduce_joins_spark.operators.graph import degrees

    tri = triples(spark, sf_dir)
    try:
        est = int(str(
            tri._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ))
    except Exception:  # noqa: BLE001 — stats unavailable: assume big
        est = DEGREE_ENC_ROUTE_MIN_BYTES
    if est >= DEGREE_ENC_ROUTE_MIN_BYTES:
        return _degrees_encoded(spark, sf_dir)
    return (
        degrees(tri, src="subject", dst="object")
        .select("node", "out_deg", "in_deg")
        .orderBy("node")
    )


PR_ITER = 10
PR_DAMPING = 0.85
# Fixed-point scale for the cross-engine oracle (round-5 promotion,
# VERDICT r5 #6 — the events_ewma pattern): rank snaps to
# round(rank*1e9)/1e9 at each round boundary on BOTH engines, so
# summation-order ulps (~1e-13) are rounded away (threshold 5e-10)
# and the recurrence is bit-identical across engines.
PR_SCALE = 1e9


def pagerank_round_select_sql(
    prev: str,
    nodes: str = "nodes",
    adj: str = "adj",
    n_expr: str = "(SELECT cnt FROM nn)",
) -> str:
    """One power-iteration round's SELECT body — shared by the
    registered oracle below and tools/certify_staged.py's staged sf10
    certification (ADVICE r10: the staged SQL must be generated from
    the same builder as the differential proof, so an oracle edit
    cannot silently desynchronize them). Table names / the node-count
    expression are parameterized because the staged run materializes
    temp tables instead of CTEs; the arithmetic (DOUBLE casts, the
    1e-9 fixed-point grid) is the single source of truth here."""
    damp = "CAST(0.85 AS DOUBLE)"
    base = "CAST(0.15 AS DOUBLE)"
    return f"""SELECT {nodes}.id, {nodes}.is_dangling,
             round(({base} + {damp} *
                    (COALESCE(m.in_mass, CAST(0 AS DOUBLE))
                     + d.dm / {n_expr})) * 1e9) / 1e9 AS rank
      FROM {nodes}
      LEFT JOIN (SELECT a.did, SUM(p.rank * a.w) AS in_mass
                 FROM {prev} p JOIN {adj} a ON p.id = a.sid
                 GROUP BY a.did) m ON m.did = {nodes}.id
      CROSS JOIN (SELECT COALESCE(SUM(rank), CAST(0 AS DOUBLE)) AS dm
                  FROM {prev} WHERE is_dangling) d"""


def _pagerank_oracle_sql() -> str:
    """10 unrolled power-iteration rounds over the FK-edge subgraph —
    the same unroll pattern as the kcore oracle. Every float literal
    is cast to DOUBLE so DuckDB's DECIMAL literals can't change the
    arithmetic; the per-round fixed-point round mirrors
    operators/graph.py::pagerank(fixed_point_scale=1e9).

    The recurrence runs over int64 node ids (round-9 restage, the
    triangle-oracle precedent): the VARCHAR formulation materialized
    ten chained ~28M-row string-keyed rank CTEs at sf3 and exceeded
    79 GB of spill even under a 64 GB DuckDB cap. Rank values are a
    function of graph STRUCTURE only, so a bijective id relabeling
    cannot change any rank; ids enter before r0 and decode after
    r{PR_ITER} through the one nid dictionary join. old==new was
    verified by full-result hash at sf0.001/0.01/0.1 before the
    swap."""
    fk = sorted({s.pred for s in PRED_SPECS if s.obj_prefix is not None})
    preds = ", ".join(f"'{p}'" for p in fk)
    rounds = []
    prev = "r0"
    for i in range(1, PR_ITER + 1):
        cur = f"r{i}"
        rounds.append(f"""
    {cur} AS MATERIALIZED (
      {pagerank_round_select_sql(prev)}
    )""")
        prev = cur
    return f"""
    WITH tri AS MATERIALIZED ({_TRI_CTE}),
    e AS MATERIALIZED (
      SELECT DISTINCT subject AS src, object AS dst FROM tri
      WHERE predicate IN ({preds})
    ),
    alln AS MATERIALIZED (
      SELECT DISTINCT node
      FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
    ),
    nid AS MATERIALIZED (
      SELECT node, ROW_NUMBER() OVER (ORDER BY node) AS id FROM alln
    ),
    ei AS MATERIALIZED (
      SELECT ns.id AS sid, nd.id AS did
      FROM e JOIN nid ns ON ns.node = e.src
             JOIN nid nd ON nd.node = e.dst
    ),
    outd AS MATERIALIZED (SELECT sid, COUNT(*) AS out_deg FROM ei GROUP BY sid),
    adj AS MATERIALIZED (
      SELECT ei.sid, ei.did, CAST(1.0 AS DOUBLE) / out_deg AS w
      FROM ei JOIN outd USING (sid)
    ),
    nodes AS MATERIALIZED (
      SELECT id, id NOT IN (SELECT sid FROM outd) AS is_dangling
      FROM nid
    ),
    nn AS MATERIALIZED (SELECT COUNT(*) AS cnt FROM nid),
    r0 AS MATERIALIZED (SELECT id, is_dangling, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
    {",".join(rounds)}
    SELECT nid.node, round(r.rank, 4) AS rank_r
    FROM r{PR_ITER} r JOIN nid ON nid.id = r.id
    ORDER BY rank_r DESC, nid.node
    """


@query("rdf_pagerank", oracle=_pagerank_oracle_sql())
def rdf_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the FK-edge subgraph (IRI→IRI
    edges only — nation/region/customer/supplier/order/manager FKs;
    literal objects excluded so mass flows between entities). 10
    rounds, damping 0.85; per round one shuffle join one aggregation
    + a 1-row dangling-mass broadcast (operators/graph.py::pagerank —
    the scalable formulation, no driver-side state). Oracled since
    round 6 (VERDICT r5 #6): ranks snap to a 1e-9 fixed-point grid at
    each round boundary on both engines, which makes the recurrence
    engine-independent — see _pagerank_oracle_sql; tests additionally
    pin mass conservation and a hand-computed fixture.

    The engine recurrence runs over int64 dictionary ids (round 10 —
    the r9 triangle-rework trick, VERDICT r9 #2): ranks are a function
    of graph structure only, so the tag<<56|key bijection cannot
    change any rank, and all 10 rounds of rank⋈adjacency shuffle
    8-byte longs instead of IRI text. The oracle already runs its own
    int64 relabeling (see _pagerank_oracle_sql); node ids decode back
    to IRIs exactly once, in the final O(|V|) projection.
    old==new verified by full sorted-result equality at
    sf0.001/0.01/0.1 before the swap (6,289 / 62,462 / 622,891 rows
    identical), and the sf0.01 DuckDB hash-match re-confirmed on the
    new code. Same-session idle A/B (min-of-2 at sf3, min-of-4 at
    sf0.1, noop sink): sf3 170.2 s encoded vs 224.2 s string (1.32x),
    sf0.1 18.9 vs 19.3 s — the win grows with scale because what the
    encoding removes is IRI text volume through 10 rounds of
    rank⋈adjacency shuffle."""
    from rdf_mapreduce_joins_spark.operators.graph import pagerank

    fk_specs = [s for s in PRED_SPECS if s.obj_prefix is not None]
    dfs = [
        spec_df(spark, sf_dir, s, encoded=True)
        for s in sorted(fk_specs, key=lambda s: (s.pred, s.table))
    ]
    edges = dfs[0]
    for d in dfs[1:]:
        edges = edges.unionByName(d)
    pr = pagerank(
        edges,
        n_iter=PR_ITER,
        damping=PR_DAMPING,
        src="subject",
        dst="object",
        fixed_point_scale=PR_SCALE,
    )
    node_tables = frozenset(
        {s.table for s in fk_specs}
        | {s.obj_prefix.rstrip("/") for s in fk_specs}
    )
    return pr.select(
        _decode_id(F.col("node"), node_tables).alias("node"),
        F.round("rank", 4).alias("rank_r"),
    ).orderBy(F.col("rank_r").desc(), "node")


HITS_ITER = 3


def hits_raw_select_sql(
    prev: str, score: str, join_key: str, group_key: str, ei: str = "ei"
) -> str:
    """One HITS half-round's RAW aggregation (auth half: score=hub,
    join on sid, group by did; hub half: score=auth, join on did,
    group by sid) — shared builder so a staged at-scale certification
    (the pagerank_round_select_sql pattern) stays textually derived
    from the registered oracle."""
    return f"""SELECT {ei}.{group_key} AS id, SUM(p.{score}) AS v
      FROM {prev} p JOIN {ei} ON p.id = {ei}.{join_key}
      GROUP BY {ei}.{group_key}"""


def hits_norm_select_sql(
    raw: str,
    out_col: str,
    nodes: str = "nodes",
    n_expr: str = "(SELECT cnt FROM nn)",
) -> str:
    """The normalize step of a HITS half-round: L1-normalize the raw
    sums to Σ = N (the pagerank mass convention — O(1) magnitudes at
    any graph size, grid-safe), snap to the 1e-9 grid. The arithmetic
    ORDER (v / s * n, left-to-right) is the cross-engine contract —
    operators/graph.py::hits runs the identical IEEE op sequence."""
    return f"""SELECT n.id,
             round(COALESCE(r.v, CAST(0 AS DOUBLE)) / t.s
                   * CAST({n_expr} AS DOUBLE) * 1e9) / 1e9 AS {out_col}
      FROM {nodes} n
      LEFT JOIN {raw} r ON r.id = n.id
      CROSS JOIN (SELECT COALESCE(SUM(v), CAST(0 AS DOUBLE)) AS s
                  FROM {raw}) t"""


def _hits_oracle_sql(n_iter: int = HITS_ITER) -> str:
    """HITS unrolled in DuckDB — the pagerank unroll pattern: int64
    relabeling through nid (scores are structure-only, so the
    bijection cannot change any value), two raw+normalize CTE pairs
    per round, every float literal cast to DOUBLE, per-boundary 1e-9
    fixed-point grid mirroring operators/graph.py::hits."""
    fk = sorted({s.pred for s in PRED_SPECS if s.obj_prefix is not None})
    preds = ", ".join(f"'{p}'" for p in fk)
    rounds = []
    prev_h = "h0"
    for i in range(1, n_iter + 1):
        rounds.append(f""",
    ar{i} AS MATERIALIZED (
      {hits_raw_select_sql(prev_h, "hub", "sid", "did")}
    ),
    a{i} AS MATERIALIZED (
      {hits_norm_select_sql(f"ar{i}", "auth")}
    ),
    hr{i} AS MATERIALIZED (
      {hits_raw_select_sql(f"a{i}", "auth", "did", "sid")}
    ),
    h{i} AS MATERIALIZED (
      {hits_norm_select_sql(f"hr{i}", "hub")}
    )""")
        prev_h = f"h{i}"
    return f"""
    WITH tri AS MATERIALIZED ({_TRI_CTE}),
    e AS MATERIALIZED (
      SELECT DISTINCT subject AS src, object AS dst FROM tri
      WHERE predicate IN ({preds})
    ),
    alln AS MATERIALIZED (
      SELECT DISTINCT node
      FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
    ),
    nid AS MATERIALIZED (
      SELECT node, ROW_NUMBER() OVER (ORDER BY node) AS id FROM alln
    ),
    ei AS MATERIALIZED (
      SELECT ns.id AS sid, nd.id AS did
      FROM e JOIN nid ns ON ns.node = e.src
             JOIN nid nd ON nd.node = e.dst
    ),
    nodes AS MATERIALIZED (SELECT id FROM nid),
    nn AS MATERIALIZED (SELECT COUNT(*) AS cnt FROM nid),
    h0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM nid)
    {"".join(rounds)}
    SELECT nid.node,
           floor(h.hub * 10000.0 + 0.5) / 10000.0 AS hub_r,
           floor(a.auth * 10000.0 + 0.5) / 10000.0 AS auth_r
    FROM h{n_iter} h
    JOIN a{n_iter} a ON a.id = h.id
    JOIN nid ON nid.id = h.id
    ORDER BY hub_r DESC, auth_r DESC, nid.node
    """


@query("rdf_hits", oracle=_hits_oracle_sql())
def rdf_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the same FK-edge subgraph as
    rdf_pagerank: {HITS_ITER} fixed rounds of the mutual recurrence
    (auth = in-sum of hubs, hub = out-sum of auths), each half-round
    L1-normalized to Σ = N and snapped to the 1e-9 fixed-point grid —
    the pagerank cross-engine determinism technique applied to a
    TWO-sided recurrence (operators/graph.py::hits). On this graph the
    FK targets (nations, parts, orders) surface as authorities and
    the FK holders (lineitems' orders, customers) as hubs — the
    entity-importance dual that pagerank's single score conflates.

    Scale shape: the edge list persists twice, pre-partitioned on src
    (auth half) and dst (hub half), so the O(|E|) side never
    re-shuffles across rounds — only the O(|V|) score frames move;
    per round two shuffle joins + two map-side-combinable sums + two
    1-row normalization broadcasts. The recurrence runs over int64
    dictionary ids end to end (the int64-pagerank lesson); IRIs
    decode once in the final O(|V|) projection."""
    from rdf_mapreduce_joins_spark.operators.graph import hits

    fk_specs = [s for s in PRED_SPECS if s.obj_prefix is not None]
    dfs = [
        spec_df(spark, sf_dir, s, encoded=True)
        for s in sorted(fk_specs, key=lambda s: (s.pred, s.table))
    ]
    edges = dfs[0]
    for d in dfs[1:]:
        edges = edges.unionByName(d)
    h = hits(
        edges,
        n_iter=HITS_ITER,
        src="subject",
        dst="object",
        fixed_point_scale=PR_SCALE,
    )
    node_tables = frozenset(
        {s.table for s in fk_specs}
        | {s.obj_prefix.rstrip("/") for s in fk_specs}
    )
    # Final 4-decimal snap is mirrored IEEE floor arithmetic on BOTH
    # engines, NOT an engine round function — the events_ewma midpoint
    # lesson, re-caught here by the registration-day --all-sf sweep:
    # at sf0.001 one hub landed on the shortest-repr midpoint 1.06845,
    # where Spark's BigDecimal HALF_UP gave 1.0685 but DuckDB's
    # double round gave 1.0684. floor(x*1e4 + 0.5)/1e4 runs the same
    # IEEE ops on both engines and cannot disagree.
    snap = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return (
        h.select(
            _decode_id(F.col("node"), node_tables).alias("node"),
            snap(F.col("hub")).alias("hub_r"),
            snap(F.col("auth")).alias("auth_r"),
        )
        .orderBy(F.col("hub_r").desc(), F.col("auth_r").desc(), "node")
    )


LPA_ITER = 4


def lpa_round_select_sql(prev: str, eh: str = "eh") -> str:
    """One synchronous-LPA round's SELECT body — shared by the
    registered oracle below and tools/certify_staged.py's staged sf10
    certification (the pagerank_round_select_sql pattern): vote count
    per (node, label), argmax with the (COUNT DESC, label ASC) tie
    order that mirrors the engine's min_by((-cnt, lbl))."""
    return f"""SELECT node_h, lbl FROM (
        SELECT e.hb AS node_h, p.lbl,
               ROW_NUMBER() OVER (
                 PARTITION BY e.hb
                 ORDER BY COUNT(*) DESC, p.lbl ASC
               ) AS rn
        FROM {eh} e JOIN {prev} p ON p.node_h = e.ha
        GROUP BY e.hb, p.lbl)
      WHERE rn = 1"""


def _lpa_oracle_sql(n_iter: int = LPA_ITER) -> str:
    """Deterministic synchronous label propagation unrolled in DuckDB
    (the pagerank unroll pattern, but all-INTEGER — no float grid
    needed): md5-60bit node keys via the shared hex60 decode, per
    round a (node, label) vote count and a ROW_NUMBER argmax with the
    (COUNT DESC, label ASC) tie order that mirrors the engine's
    min_by((-cnt, lbl)) exactly."""
    from rdf_mapreduce_joins_spark.operators.hashing import hex60_sql

    fk = sorted({s.pred for s in PRED_SPECS if s.obj_prefix is not None})
    preds = ", ".join(f"'{p}'" for p in fk)
    rounds = []
    prev = "l0"
    for i in range(1, n_iter + 1):
        cur = f"l{i}"
        rounds.append(f""",
    {cur} AS MATERIALIZED (
      {lpa_round_select_sql(prev)}
    )""")
        prev = cur
    return f"""
    WITH tri AS MATERIALIZED ({_TRI_CTE}),
    e AS MATERIALIZED (
      SELECT DISTINCT subject AS src, object AS dst FROM tri
      WHERE predicate IN ({preds})
    ),
    und AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM e
      UNION
      SELECT dst, src FROM e
    ),
    nh AS MATERIALIZED (
      SELECT node, {hex60_sql('hx')} AS h
      FROM (SELECT node, md5(node) AS hx
            FROM (SELECT DISTINCT a AS node FROM und))
    ),
    eh AS MATERIALIZED (
      SELECT na.h AS ha, nb.h AS hb
      FROM und JOIN nh na ON na.node = und.a
               JOIN nh nb ON nb.node = und.b
    ),
    l0 AS MATERIALIZED (SELECT h AS node_h, h AS lbl FROM nh)
    {"".join(rounds)}
    SELECT n1.node AS node, n2.node AS community
    FROM l{n_iter} l
    JOIN nh n1 ON n1.h = l.node_h
    JOIN nh n2 ON n2.h = l.lbl
    """


@query("rdf_label_propagation", oracle=_lpa_oracle_sql())
def rdf_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by deterministic synchronous label
    propagation over the same undirected FK-edge graph as
    rdf_pagerank: {LPA_ITER} fixed rounds, each node adopting its
    neighbors' most frequent label with the smallest-label tie-break
    (operators/graph.py::label_propagation).

    Cross-engine determinism is the design problem here: the
    tie-break ORDERS the label domain, so engine-internal dictionary
    ids (whose relative order DuckDB cannot reproduce) are unusable —
    nodes are keyed by md5-60bit(IRI) instead, the repo's cross-engine
    hash family, giving both engines the identical total order while
    the four vote rounds still shuffle 8-byte longs, not IRI text
    (the int64-pagerank lesson applied under an order-sensitive
    recurrence). IRIs decode back through one dictionary join in the
    final projection. 60-bit collisions would merge nodes identically
    on BOTH engines (same hash) — a documented property of the hash
    domain (the MinHash family's standing caveat), ~1e-9 at fixture
    scale.

    Scale shape: per round one shuffle join + one map-side-combinable
    (node, label) count + a max_by argmax (never a window over the
    vote stream); the undirected edge list materializes once for all
    rounds. All-integer arithmetic — the oracle needs no fixed-point
    grid at all, unlike pagerank."""
    from rdf_mapreduce_joins_spark.operators.graph import label_propagation
    from rdf_mapreduce_joins_spark.operators.hashing import base_hash60

    fk_specs = [s for s in PRED_SPECS if s.obj_prefix is not None]
    dfs = [
        spec_df(spark, sf_dir, s)
        for s in sorted(fk_specs, key=lambda s: (s.pred, s.table))
    ]
    edges = dfs[0]
    for d in dfs[1:]:
        edges = edges.unionByName(d)
    # No edge-level distinct here (round 11): label_propagation dedups
    # its undirected edge cache anyway (one exchange, see
    # operators/graph.py), and the decode dictionary below dedups the
    # exploded IRIs — the string-PAIR distinct this replaced was a
    # third full exchange of IRI text for an already-covered dedup.
    # (FK subjects are unique per base row, so raw multiplicity is ~1;
    # an md5-60bit collision between two raw duplicates would collapse
    # identically with or without the pre-distinct, since the hash is
    # applied per row either way.)
    eh = edges.select(
        base_hash60("subject", family="md5").alias("hs"),
        base_hash60("object", family="md5").alias("hd"),
    )
    lp = label_propagation(eh, n_iter=LPA_ITER, src="hs", dst="hd")
    # The decode dictionary feeds TWO joins (node and community);
    # checkpoint it so the string distinct runs once, and build it in
    # one pass over the edge scan (explode, not union-of-two-scans).
    nodes = (
        edges.select(F.explode(F.array("subject", "object")).alias("iri"))
        .distinct()
        .select("iri", base_hash60("iri", family="md5").alias("h"))
        .localCheckpoint()
    )
    # Hash-build the decode joins (round 12 — the rdf_hits wave-14
    # attach treatment): statically both decode joins planned
    # SortMergeJoin, sorting the O(|V|) labels frame and the O(|V|)
    # dictionary twice for a once-off attach; shuffle_hash builds the
    # label side instead. Flat locally (min-of-4 10.47 vs 10.32 s —
    # the dictionary is ~36 MB of IRI text at sf0.1, above any
    # auto-broadcast, so unlike the r11 votes-join negative the hint
    # forces no exchange back in), the removed sorts are the at-scale
    # point.
    return (
        lp.hint("shuffle_hash")
        .join(nodes.select(F.col("h").alias("node"), F.col("iri").alias("node_iri")), "node")
        .hint("shuffle_hash")
        .join(nodes.select(F.col("h").alias("lbl"), F.col("iri").alias("community")), "lbl")
        .select(F.col("node_iri").alias("node"), "community")
    )


@query(
    "rdf_triangle_count",
    # Degree-oriented (node-iterator++) oracle, restaged round 9: the
    # original id-ordered wedge join (canon e1 JOIN canon e2 ON
    # e1.hi = e2.lo + EXISTS closure) was certified through sf1 but
    # filled 75 GB of spill at sf3 — the fixed nation/region hub spine
    # gains 30x degree and id-ordered wedges THROUGH a hub grow
    # quadratically in that degree. Orienting every canonical edge
    # toward the higher (degree, vertex) endpoint gives hubs ~zero
    # out-edges, so wedge volume collapses while the count is
    # unchanged (each triangle a<b<c in the total order is counted
    # exactly once at its lowest vertex: wedge a→b, a→c with b<c,
    # closing edge b→c). Same restage precedent as
    # dedup_ngram_jaccard_capped: the naive formulation stays the
    # documented semantics; equality old==new verified at
    # sf0.001/0.01/0.1 before the swap (334/384 triangles identical).
    # Like the pagerank oracle, the orientation runs over int64 ids
    # (nid) — the VARCHAR-keyed dir CTE hit DuckDB's 40 GB pin limit
    # at sf10; the count is invariant under the relabeling and no
    # decode is needed (the output is a single count).
    oracle=f"""
    WITH tri AS ({_TRI_CTE}),
    fk AS (
        SELECT subject, object FROM tri
        WHERE predicate IN ('nation', 'region', 'customer', 'order',
                            'supplier', 'manager')
    ),
    canon0 AS MATERIALIZED (
        SELECT DISTINCT LEAST(subject, object) AS lo,
                        GREATEST(subject, object) AS hi
        FROM fk WHERE subject <> object
    ),
    nid AS MATERIALIZED (
        SELECT node, ROW_NUMBER() OVER (ORDER BY node) AS id FROM (
            SELECT DISTINCT lo AS node FROM canon0
            UNION SELECT hi FROM canon0
        )
    ),
    canon AS MATERIALIZED (
        SELECT nl.id AS lo, nh.id AS hi
        FROM canon0 c JOIN nid nl ON nl.node = c.lo
                      JOIN nid nh ON nh.node = c.hi
    ),
    deg AS MATERIALIZED (
        SELECT v, COUNT(*) AS d FROM (
            SELECT lo AS v FROM canon UNION ALL SELECT hi AS v FROM canon
        ) GROUP BY v
    ),
    dir AS MATERIALIZED (
        SELECT CASE WHEN (dl.d, c.lo) < (dh.d, c.hi)
                    THEN c.lo ELSE c.hi END AS u,
               CASE WHEN (dl.d, c.lo) < (dh.d, c.hi)
                    THEN c.hi ELSE c.lo END AS v,
               CASE WHEN (dl.d, c.lo) < (dh.d, c.hi)
                    THEN dh.d ELSE dl.d END AS dv
        FROM canon c
        JOIN deg dl ON dl.v = c.lo
        JOIN deg dh ON dh.v = c.hi
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM dir e1
    JOIN dir e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
    JOIN dir e3 ON e3.u = e1.v AND e3.v = e2.v
    """,
)
def rdf_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the undirected FK entity graph — an
    integer graph-analytics oracle (unlike PageRank, no float
    nondeterminism). The a<b<c orientation counts each triangle once
    and bounds join fan-out by the ordered degree (hubs contribute
    only higher-id neighbors — the scalable formulation); the oracle
    is an independent DuckDB 3-way self-join with EXISTS closure.

    Vertices join as int64 DICTIONARY IDS (r9): the count is invariant
    under any vertex bijection (the orientation just uses a different
    total order), so the edge set is built with ``encoded=True`` and
    no decode ever happens. At sf3 the string formulation shuffled
    ~4 GB of IRI text through the wedge join and hit G1
    humongous-allocation storms (124 s; encoded + the operator's
    hashed closing probe and wedge-gated degree orientation: 26 s,
    and sf1→sf3 wall is 2.56x at 3x data/3.65x wedge work); int64
    keys are the same fix the BGP compiler uses for every encoded
    join."""
    from rdf_mapreduce_joins_spark.operators.graph import triangle_count

    fk_specs = [s for s in PRED_SPECS if s.obj_prefix is not None]
    dfs = [
        spec_df(spark, sf_dir, s, encoded=True) for s in sorted(
            fk_specs, key=lambda s: (s.pred, s.table)
        )
    ]
    edges = dfs[0]
    for d in dfs[1:]:
        edges = edges.unionByName(d)
    return triangle_count(edges, src="subject", dst="object")


@query(
    "rdf_shortest_hops",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT 'supplier/' || s_suppkey AS a,
             'supplier/' || (s_suppkey // 2) AS b
      FROM supplier WHERE s_suppkey >= 1
    ), sym AS (
      SELECT a, b FROM e UNION SELECT b, a FROM e
    ), walk(node, d) AS (
      SELECT 'supplier/0', 0
      UNION
      SELECT s.b, w.d + 1 FROM walk w JOIN sym s ON s.a = w.node
      WHERE w.d < 25
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY node
    """,
)
def rdf_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest hop counts (unweighted BFS,
    operators/graph.py::shortest_hops) over the UNDIRECTED manager
    tree from the org root <supplier/0> — the distance complement to
    reachability (<manager>+ says WHETHER, this says HOW FAR). Exact
    integer distances, so unlike PageRank it is fully deterministic
    and carries a full SQL oracle: DuckDB re-derives min hop counts
    with a depth-capped recursive walk (states bounded by nodes x cap,
    no cycle blow-up because UNION dedups (node, d) pairs). The
    frontier expansion joins only NEWLY-discovered nodes per round —
    O(diameter) rounds with boundary-proportional shuffles, the
    textbook distributed BFS."""
    from rdf_mapreduce_joins_spark.operators.graph import shortest_hops

    edges = triples(spark, sf_dir, preds=["manager"])
    hops = shortest_hops(edges, "supplier/0", src="subject", dst="object")
    return hops.select("node", F.col("dist").cast("bigint").alias("dist"))


@query(
    "rdf_hierarchy_rollup",
    oracle="""
    WITH RECURSIVE closure(anc, node) AS (
      SELECT CAST(s_suppkey // 2 AS BIGINT), s_suppkey
      FROM supplier WHERE s_suppkey >= 1
      UNION
      -- a further ancestor hop exists only if anc IS a supplier (the
      -- manager edge's domain): replica-offset keys at sf1 have
      -- non-supplier halving intermediates that stop the path, as the
      -- engine's edge-wise closure does
      SELECT CAST(c.anc // 2 AS BIGINT), c.node
      FROM closure c JOIN supplier sm ON sm.s_suppkey = c.anc
      WHERE c.anc >= 1
    )
    SELECT 'supplier/' || closure.anc AS manager,
           COUNT(*) AS n_reports,
           ROUND(SUM(CAST(FLOOR(s.s_acctbal * 100 + 0.5) AS BIGINT))
                 / 100.0, 2) AS total_acctbal
    FROM closure JOIN supplier s ON s.s_suppkey = closure.node
    GROUP BY closure.anc
    """,
)
def rdf_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup over the org closure (the reporting-line
    aggregate every org-chart dashboard runs): for each manager, count
    and total account balance of ALL transitive reports — the
    transitive-closure operator composed with a relational aggregate.
    The closure yields (ancestor, descendant) pairs in ⌈log₂ depth⌉
    doubling rounds; the supplier dimension joins on the descendant key
    and one hash aggregation groups by ancestor. For a depth-d tree the
    closure is O(N·d) rows — the scalable hierarchy-rollup layout
    (materialize ancestor paths, aggregate by ancestor) rather than a
    per-manager recursive probe. Oracle re-derives the closure with
    WITH RECURSIVE."""
    from rdf_mapreduce_joins_spark.operators.graph import transitive_closure

    edges = triples(spark, sf_dir, preds=["manager"])
    closure = transitive_closure(edges, src="subject", dst="object")
    sup = load_table(spark, sf_dir, "supplier").select(
        F.concat(F.lit("supplier/"), F.col("s_suppkey")).alias("node_iri"),
        "s_acctbal",
    )
    return (
        closure.join(sup, closure["src"] == sup["node_iri"])
        .groupBy(F.col("dst").alias("manager"))
        .agg(
            F.count(F.lit(1)).alias("n_reports"),
            # cents-BIGINT accumulation (the sf10 money-sum class)
            F.round(
                F.sum(F.floor(F.col("s_acctbal") * 100 + 0.5).cast("bigint"))
                / 100.0,
                2,
            ).alias("total_acctbal"),
        )
    )


WSSSP_MAX_HOPS = 12
WSSSP_MAX_W = 7  # manager-edge weights are (suppkey % 7) + 1 ∈ [1, 7]


@query(
    "rdf_weighted_sssp",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT 'supplier/' || s_suppkey AS a,
             'supplier/' || (s_suppkey // 2) AS b,
             (s_suppkey % {WSSSP_MAX_W}) + 1 AS w
      FROM supplier WHERE s_suppkey >= 1
      UNION ALL
      SELECT 'supplier/' || s_suppkey, 'supplier/' || (s_suppkey + 1), 3
      FROM supplier
      WHERE s_suppkey + 1 <= (SELECT MAX(s_suppkey) FROM supplier)
    ), sym AS (
      SELECT a, b, w FROM e UNION SELECT b, a, w FROM e
    ), walk(node, d, hops) AS (
      SELECT 'supplier/0', 0, 0
      UNION
      SELECT s.b, wk.d + s.w, wk.hops + 1
      FROM walk wk JOIN sym s ON s.a = wk.node
      WHERE wk.hops < {WSSSP_MAX_HOPS}
        AND wk.d + s.w <= {WSSSP_MAX_HOPS * WSSSP_MAX_W}
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY node
    """,
)
def rdf_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (hop-bounded Bellman-Ford,
    operators/graph.py::weighted_sssp) — the weighted complement to
    rdf_shortest_hops' BFS. Graph: the undirected manager tree
    (edge weight (child % 7) + 1, so routes genuinely differ in cost)
    PLUS a sibling ring k↔k+1 of weight 3, which adds cycles and
    alternative routes — min-cost ≠ min-hops, so the relaxation is
    doing real work, not re-deriving BFS. Distances are exact integer
    sums; the oracle replays the identical ≤12-hop min-plus semantics
    with a depth- and cost-capped recursive walk (the cost cap
    12×7 = 84 is an upper bound on ANY ≤12-edge path, so it prunes
    states without changing the minimum)."""
    from rdf_mapreduce_joins_spark.operators.graph import weighted_sssp

    dist = weighted_sssp(
        _supplier_tree_ring(spark, sf_dir, weighted=True),
        "supplier/0",
        max_hops=WSSSP_MAX_HOPS,
    )
    return dist.select("node", F.col("dist").cast("bigint").alias("dist"))


def _supplier_tree_ring(
    spark: SparkSession, sf_dir: str, weighted: bool = False
) -> DataFrame:
    """The shared graph-analytics fixture graph: the supplier manager
    tree (child k → parent k//2) plus a sibling ring (k → k+1), which
    adds the cycles and alternative routes that make SSSP/k-core
    non-trivial. One definition feeding both declared queries AND
    their oracles' edge CTEs — a shape change here must be mirrored
    there (rdf_weighted_sssp oracle) or the hash gate flags it.
    ``weighted`` attaches the (k % 7) + 1 tree and constant-3 ring
    weights the SSSP semantics depend on."""
    s = load_table(spark, sf_dir, "supplier")
    node = F.concat(F.lit("supplier/"), F.col("s_suppkey"))
    tree_cols = [
        node.alias("src"),
        F.concat(F.lit("supplier/"), F.expr("s_suppkey div 2")).alias("dst"),
    ]
    smax = s.agg(F.max("s_suppkey").alias("m"))
    ring_cols = [
        node.alias("src"),
        F.concat(F.lit("supplier/"), F.col("s_suppkey") + 1).alias("dst"),
    ]
    if weighted:
        tree_cols.append(((F.col("s_suppkey") % WSSSP_MAX_W) + 1).alias("w"))
        ring_cols.append(F.lit(3).alias("w"))
    tree = s.filter(F.col("s_suppkey") >= 1).select(*tree_cols)
    ring = (
        s.crossJoin(F.broadcast(smax))
        .filter(F.col("s_suppkey") + 1 <= F.col("m"))
        .select(*ring_cols)
    )
    return tree.unionByName(ring)


KCORE_K = 2


@query(
    "rdf_kcore_members",
    oracle=f"""
    WITH e AS (
      SELECT 'supplier/' || s_suppkey AS a, 'supplier/' || (s_suppkey // 2) AS b
      FROM supplier WHERE s_suppkey >= 1
      UNION ALL
      SELECT 'supplier/' || s_suppkey, 'supplier/' || (s_suppkey + 1)
      FROM supplier WHERE s_suppkey + 1 <= (SELECT MAX(s_suppkey) FROM supplier)
    ), sym AS (
      SELECT DISTINCT a, b
      FROM (SELECT a, b FROM e UNION ALL SELECT b, a FROM e) WHERE a <> b
    ),
    s1 AS (SELECT a AS node FROM sym GROUP BY a HAVING COUNT(*) >= {KCORE_K}),
    s2 AS (SELECT a AS node FROM sym JOIN s1 ka ON sym.a = ka.node
           JOIN s1 kb ON sym.b = kb.node GROUP BY a HAVING COUNT(*) >= {KCORE_K}),
    s3 AS (SELECT a AS node FROM sym JOIN s2 ka ON sym.a = ka.node
           JOIN s2 kb ON sym.b = kb.node GROUP BY a HAVING COUNT(*) >= {KCORE_K}),
    s4 AS (SELECT a AS node FROM sym JOIN s3 ka ON sym.a = ka.node
           JOIN s3 kb ON sym.b = kb.node GROUP BY a HAVING COUNT(*) >= {KCORE_K}),
    s5 AS (SELECT a AS node FROM sym JOIN s4 ka ON sym.a = ka.node
           JOIN s4 kb ON sym.b = kb.node GROUP BY a HAVING COUNT(*) >= {KCORE_K}),
    s6 AS (SELECT a AS node FROM sym JOIN s5 ka ON sym.a = ka.node
           JOIN s5 kb ON sym.b = kb.node GROUP BY a HAVING COUNT(*) >= {KCORE_K}),
    chk AS (
      SELECT CASE WHEN (SELECT COUNT(*) FROM s5) <> (SELECT COUNT(*) FROM s6)
                  THEN error('kcore oracle: not converged in 6 unrolled rounds')
                  ELSE 1 END AS ok
    )
    SELECT node FROM s6, chk WHERE chk.ok = 1 ORDER BY node
    """,
)
def rdf_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership (k=2) over the manager tree + sibling ring —
    the cohesion filter that strips the acyclic fringe before
    community analytics (a bare tree is 1-degenerate: its 2-core is
    empty; every member here survives only via ring-tree cycles).
    Iterative peeling in operators/graph.py::kcore: per-round degree
    aggregation + two semi-joins over the shrinking edge set, rounds
    bounded by peeling depth. Oracle (round-5 promotion, the
    events_ewma pattern): the peeling fixpoint unrolled as 6 bounded
    degree-filter rounds — this fixture's ring+tree graph peels only
    node 0 (degree 1) and converges in 2 — with an error() guard that
    fails the oracle loudly rather than hash-mismatching silently if
    a future fixture needs deeper peeling. Also value-matched against
    an independent Python peeling reference in tests."""
    from rdf_mapreduce_joins_spark.operators.graph import kcore

    return kcore(
        _supplier_tree_ring(spark, sf_dir, weighted=False), KCORE_K
    ).orderBy("node")
