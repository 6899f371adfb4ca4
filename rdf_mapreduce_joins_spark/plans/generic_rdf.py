"""Generic BGP/SPARQL execution over ANY raw triples DataFrame.

The star-schema compiler (plans/rdf.py) is the oracle-checked,
dictionary-encoded fast path for the driver's fixtures — but a user of
the reference arrives with N-TRIPLES FILES of arbitrary vocabulary
(that is the reference's entire ingest surface, SURVEY.md §1.1 [K]).
This module closes that loop: ``read_ntriples`` (sources/ntriples.py)
→ a plain ``(subject, predicate, object)`` DataFrame → the same SPARQL
text running over it.

Differences from the star-schema path, by design:

* no vocabulary validation — any predicate IRI matches whatever the
  data holds (an unknown predicate is an empty frame, not an error);
* ``?x a <C>`` compiles to a triple pattern on the rdf:type predicate
  (the data-level meaning; the star path compiles it to scan pruning);
* no dictionary encoding — terms join as the strings the file gave
  (generic IRIs have no algebraic key to exploit); at scale, ingest
  would assign surrogate ids and the star-schema path's design shows
  where that goes;
* property-path modifiers ``+``/``*``/``?`` apply to ANY predicate
  (one universe of nodes — the self-referential-FK restriction is a
  star-schema typing concern, not an RDF one).

Plan shape is otherwise identical: one filtered projection of the
triples frame per pattern, inner-join chain on shared variables,
left/anti/semi joins for OPTIONAL/negation/EXISTS, Catalyst/AQE
choosing physical strategies. The triples frame should be persisted
parquet (partitioned or z-ordered by predicate — see sources/sinks)
so per-pattern predicate filters prune at scan time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_mapreduce_joins_spark.plans.sparql import (
    ParsedQuery,
    SparqlUnsupportedError,
    _Group,
    _rewrite_notbound,
    parse_sparql,
)
from rdf_mapreduce_joins_spark.sources.tables import file_identity, read_parquet

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _pattern_frame(
    triples: DataFrame,
    s: str,
    preds: tuple[str, ...],
    o: str,
    mod: str,
    encoded: bool = False,
    graph: str | None = None,
) -> DataFrame:
    """One triple pattern over the raw frame: predicate IN-filter,
    endpoint constant filters, closure/identity for path modifiers.

    ``encoded``: terms become ``xxhash64`` int64 ids right after the
    predicate filter — closures, joins, and distincts then run on
    longs; constants compare as ``xxhash64(lit)`` (constant-folded).
    See :func:`term_dictionary` for decode and the collision story.

    A variable predicate (``?s ?p ?o``) skips the predicate filter and
    binds the predicate NAME as a string column — predicates are
    filter constants everywhere else, so they are never hash-encoded,
    and a bound predicate var needs no dictionary decode.

    ``graph`` scopes the pattern on a QUAD frame (a ``graph`` column):
    ``None`` matches the default graph (rows with NULL graph — the RDF
    dataset model's unnamed graph), a constant IRI filters to that
    named graph, and a ``?var`` binds the graph name as a string
    column (like predicate vars, graph names never hash-encode). On a
    plain triples frame (no graph column) ``graph`` must be None."""
    has_graph = "graph" in triples.columns
    if graph is not None and not has_graph:
        raise SparqlUnsupportedError(
            "GRAPH needs a quad frame with a 'graph' column — this "
            "frame has only (subject, predicate, object)"
        )
    g_var: str | None = None
    if has_graph:
        if graph is None:
            triples = triples.filter(F.col("graph").isNull())
        elif graph.startswith("?"):
            g_var = graph[1:]
            triples = triples.filter(F.col("graph").isNotNull())
        else:
            triples = triples.filter(F.col("graph") == graph)
    p_var = preds[0].startswith("?")
    if preds[0] == "/":
        # Grouped-sequence path (p1/p2)mod: compose the sub-step edge
        # frames into one (subject, object) relation by chaining
        # equi-joins through the intermediate keys — the same lowering
        # as the star compiler (plans/rdf.py::_pattern_df), but on raw
        # (s, p, o): each step is a predicate-filtered projection (no
        # FK spec resolution — one RDF node universe), an inverse step
        # (^p) swaps endpoints before joining, and the shared modifier
        # code below then treats the composed frame like any other
        # edge set. With the modifier the closure runs on the COMPOSED
        # edges, so (p/p)+ reaches even distances only — a genuinely
        # different relation from p+.
        if g_var:
            raise SparqlUnsupportedError(
                "grouped paths inside GRAPH ?var are unsupported — the "
                "composition would need to run per graph; bind the "
                "graph constant instead"
            )
        if not preds[1:]:
            # A parser that ever emits ('/',) with no steps would
            # otherwise leave df=None and die later with an opaque
            # NoneType AttributeError in the modifier tail (ADVICE r3).
            raise SparqlUnsupportedError("empty grouped path: '/' with no steps")
        df = None
        for raw in preds[1:]:
            pred, inv = raw.lstrip("^"), raw.startswith("^")
            step = triples.filter(F.col("predicate") == pred)
            if encoded and "subject_id" in step.columns:
                step = step.select(
                    F.col("subject_id").alias("subject"),
                    F.col("object_id").alias("object"),
                )
            elif encoded:
                step = step.select(
                    F.xxhash64("subject").alias("subject"),
                    F.xxhash64("object").alias("object"),
                )
            else:
                step = step.select("subject", "object")
            if inv:
                step = step.select(
                    F.col("object").alias("subject"),
                    F.col("subject").alias("object"),
                )
            if df is None:
                df = step
            else:
                # rename BOTH step endpoints: every step derives from
                # the same `triples` frame, so keeping `object` would
                # trip Spark's ambiguous-self-join analysis
                mid = step.select(
                    F.col("subject").alias("__mid"), F.col("object").alias("__obj")
                )
                df = df.join(mid, df["object"] == mid["__mid"]).select(
                    df["subject"], F.col("__obj").alias("object")
                )
        # falls through to the shared modifier/constant/projection tail
    elif p_var:
        df = triples  # matches every predicate; nothing to filter
    elif preds[0] == "!":
        # negated property set: any predicate NOT listed (unbound)
        df = triples.filter(~F.col("predicate").isin(*preds[1:]))
    else:
        df = triples.filter(
            F.col("predicate").isin(*preds)
            if len(preds) > 1
            else (F.col("predicate") == preds[0])
        )
    if preds[0] != "/":  # the seq branch already projected (subject, object)
        extra_cols = ([F.col("predicate")] if p_var else []) + (
            [F.col("graph")] if g_var else []
        )
        if encoded and "subject_id" in df.columns:
            # pre-encoded store (build_triples_store): ids were computed
            # once at ingest; column pruning drops the string columns so
            # the scan reads only the two longs
            df = df.select(
                F.col("subject_id").alias("subject"),
                F.col("object_id").alias("object"),
                *extra_cols,
            )
        elif encoded:
            df = df.select(
                F.xxhash64("subject").alias("subject"),
                F.xxhash64("object").alias("object"),
                *extra_cols,
            )
        else:
            df = df.select("subject", "object", *extra_cols)
    if mod and g_var:
        raise SparqlUnsupportedError(
            "path modifiers inside GRAPH ?var are unsupported — the "
            "closure would need to run per graph; bind the graph "
            "constant instead"
        )
    if mod:
        from rdf_mapreduce_joins_spark.operators.graph import transitive_closure

        if mod in ("+", "*"):
            closed = transitive_closure(df, src="subject", dst="object").select(
                F.col("src").alias("subject"), F.col("dst").alias("object")
            )
        if mod == "+":
            df = closed
        else:
            nodes = df.select("subject").unionByName(
                df.select(F.col("object").alias("subject"))
            )
            ident = nodes.select("subject", F.col("subject").alias("object"))
            df = (closed if mod == "*" else df).unionByName(ident).distinct()
    def const(term: str) -> F.Column:
        return F.xxhash64(F.lit(term)) if encoded else F.lit(term)

    if not s.startswith("?"):
        df = df.filter(F.col("subject") == const(s))
    if not o.startswith("?"):
        df = df.filter(F.col("object") == const(o))
    cols = []
    if s.startswith("?"):
        cols.append(F.col("subject").alias(s[1:]))
    if p_var:
        cols.append(F.col("predicate").alias(preds[0][1:]))
    if o.startswith("?"):
        cols.append(F.col("object").alias(o[1:]))
    if g_var:
        cols.append(F.col("graph").alias(g_var))
    if not cols:
        cols = [F.lit(1).alias("_exists")]
    return df.select(*cols)


def _join_group(
    triples: DataFrame,
    g: _Group,
    types: dict[str, str],
    encoded: bool = False,
    graph: str | None = None,
) -> DataFrame:
    pats = list(g.triples)
    # ?x a <C> type constraints become rdf:type patterns at data level
    for var, cls in types.items():
        pats.append((var, (RDF_TYPE,), cls, ""))
    if not pats:
        raise SparqlUnsupportedError("group needs at least one triple pattern")
    out: DataFrame | None = None
    for s, preds, o, mod in pats:
        df = _pattern_frame(triples, s, preds, o, mod, encoded=encoded, graph=graph)
        if out is None:
            out = df
        else:
            shared = [c for c in df.columns if c in out.columns]
            if not shared:
                raise SparqlUnsupportedError(
                    f"pattern ({s} {preds} {o}) shares no variable with prior patterns"
                )
            out = out.join(df, on=shared, how="inner")
    assert out is not None
    return out


def _group_frames(
    triples: DataFrame,
    g: _Group,
    types: dict[str, str],
    encoded: bool = False,
) -> DataFrame:
    """A group's joined solution frame: default-graph patterns (plus
    data-level rdf:type constraints), then one frame per GRAPH block,
    inner-joined on shared variables (a shared ?g graph variable joins
    blocks across the same graph). Used for the main WHERE group and
    for OPTIONAL/MINUS/EXISTS sub-groups alike."""
    frames: list[DataFrame] = []
    if g.triples or types:
        frames.append(_join_group(triples, g, types, encoded=encoded))
    for gterm, sub in g.graphs:
        frames.append(_join_group(triples, sub, {}, encoded=encoded, graph=gterm))
    if not frames:
        raise SparqlUnsupportedError("group needs at least one triple pattern")
    out = frames[0]
    for fdf in frames[1:]:
        shared = [c for c in fdf.columns if c in out.columns]
        if not shared:
            raise SparqlUnsupportedError(
                "GRAPH block shares no variable with the rest of the group"
            )
        out = out.join(fdf, on=shared, how="inner")
    return out


def _compile(
    triples: DataFrame, q: ParsedQuery, g: _Group, encoded: bool = False
) -> DataFrame:
    if g.unions:
        raise SparqlUnsupportedError(
            "UNION inside a group that also has other structure is unsupported"
        )
    from rdf_mapreduce_joins_spark.plans.sparql import _sub_group_filters

    out = _group_frames(triples, g, q.types, encoded=encoded)
    for sub, how in (
        *[(x, "left") for x in g.optionals],
        *[(x, "left_anti") for x in g.negations],
        *[(x, "left_semi") for x in g.exists],
    ):
        # local-vars-only filters, validated; GRAPH blocks inside the
        # sub-group compile here (quad executor), unlike the star path
        sub_filters = _sub_group_filters(sub, allow_graphs=True)
        if sub_filters and encoded:
            raise SparqlUnsupportedError(
                "sub-group FILTER needs term strings — encoded path should "
                "have fallen back (see _needs_strings)"
            )
        sdf = _group_frames(triples, sub, {}, encoded=encoded)
        for f in sub_filters:
            sdf = sdf.filter(F.expr(f[1]))
        shared = [c for c in sdf.columns if c in out.columns]
        if not shared:
            raise SparqlUnsupportedError("sub-group shares no variable")
        out = out.join(sdf, on=shared, how=how)
    for sq in g.subqueries:
        sdf = _run_parsed(triples, sq)
        shared = [c for c in sdf.columns if c in out.columns]
        if not shared:
            raise SparqlUnsupportedError(
                "subquery shares no variable with the outer group"
            )
        out = out.join(sdf, on=shared, how="inner")
    for f in g.filters:
        if f[0] != "sql":
            raise AssertionError("notbound filters are rewritten before compile")
        out = out.filter(F.expr(f[1]))
    for var, terms in g.values:
        name = var[1:]
        if name not in out.columns:
            raise SparqlUnsupportedError(f"VALUES {var} over a variable no pattern binds")
        out = out.filter(F.col(name).isin(*terms))
    for vars_, rows_ in g.values_multi:
        for v in vars_:
            if v[1:] not in out.columns:
                raise SparqlUnsupportedError(
                    f"VALUES {v} over a variable no pattern binds"
                )
        cond = None
        for row in rows_:
            conj = None
            for v, t in zip(vars_, row):
                c = F.col(v[1:]) == F.lit(t)
                conj = c if conj is None else (conj & c)
            cond = conj if cond is None else (cond | conj)
        out = out.filter(cond)
    for alias, (_tag, sql, vs) in g.binds:
        a = alias[1:]
        if a in out.columns:
            raise SparqlUnsupportedError(f"BIND alias {alias} already bound")
        for v in vs:
            if v[1:] not in out.columns:
                raise SparqlUnsupportedError(
                    f"BIND references unbound variable {v}"
                )
        out = out.withColumn(a, F.expr(sql))
    return out


def term_dictionary(triples: DataFrame) -> DataFrame:
    """(id, term) for every distinct term: id = ``xxhash64(term)``.

    Hash ids need no coordination (any executor derives them locally —
    unlike dense ids, which cost a global sort or a stateful service at
    ingest). The price is a collision chance: ~n²/2⁶⁵, ≈3% at 10⁹
    distinct terms — run :func:`dictionary_collisions` at ingest to
    verify zero (a collision would silently merge two terms); corpora
    beyond that scale want dense-id ingest instead."""
    terms = (
        triples.select(F.col("subject").alias("term"))
        .unionByName(triples.select(F.col("object").alias("term")))
        .distinct()
    )
    return terms.select(F.xxhash64("term").alias("id"), "term")


def dictionary_collisions(dictionary: DataFrame) -> int:
    """Number of hash ids shared by more than one term (must be 0)."""
    return (
        dictionary.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )


def _predicate_vars(q: ParsedQuery) -> set[str]:
    """Column names bound by variable-predicate patterns or GRAPH
    variables anywhere in the query — these carry predicate/graph
    NAMES (strings), never hash-encoded term ids, so they are excluded
    from dictionary decode."""
    names: set[str] = set()

    def walk(g: _Group) -> None:
        for _s, preds, _o, _mod in g.triples:
            if preds[0].startswith("?"):
                names.add(preds[0][1:])
        for gterm, sub in g.graphs:
            if gterm.startswith("?"):
                names.add(gterm[1:])
            walk(sub)
        for sub in (*g.optionals, *g.negations, *g.exists, *g.unions):
            walk(sub)
        for sq in g.subqueries:
            walk(sq.where)

    walk(q.where)
    return names


def _endpoint_vars(g: _Group) -> set[str]:
    """Variable names occurring in subject or object position
    anywhere in the group tree."""
    vs: set[str] = set()
    for s, _preds, o, _mod in g.triples:
        if s.startswith("?"):
            vs.add(s[1:])
        if o.startswith("?"):
            vs.add(o[1:])
    for _gt, sub in g.graphs:
        vs |= _endpoint_vars(sub)
    for sub in (*g.optionals, *g.negations, *g.exists, *g.unions):
        vs |= _endpoint_vars(sub)
    for sq in g.subqueries:
        vs |= _endpoint_vars(sq.where)
    return vs


def _needs_strings(q: ParsedQuery) -> bool:
    """True when the query touches term VALUES as strings mid-plan —
    FILTER/VALUES anywhere, MIN/MAX aggregates, or a predicate/GRAPH
    variable REUSED in endpoint position (predicate and graph names
    bind as strings even on the encoded path, so joining one against
    an xxhash64 endpoint column would compare string to int64 — the
    RDF-Schema predicates-as-subjects shape forces the string path)."""
    def group_needs(g: _Group) -> bool:
        return bool(
            g.filters
            or g.values
            or g.values_multi
            or g.binds
            or g.subqueries
            or any(map(group_needs, (*g.optionals, *g.negations, *g.exists, *g.unions)))
        )

    return (
        group_needs(q.where)
        or any(
            fn in ("MIN", "MAX", "SAMPLE", "GROUP_CONCAT", "SUM", "AVG")
            for fn, *_ in q.aggs
        )
        or bool(_predicate_vars(q) & _endpoint_vars(q.where))
    )


def _decode_cols(out: DataFrame, dictionary: DataFrame, cols: list[str]) -> DataFrame:
    """id columns → term strings via per-column dictionary joins (the
    decode-on-projection step; runs on the final row set, not the
    intermediate joins)."""
    for c in cols:
        d = dictionary.select(F.col("id").alias(c), F.col("term").alias(f"__{c}"))
        out = out.join(d, on=c, how="left").drop(c).withColumnRenamed(f"__{c}", c)
    return out


def sparql_triples(
    triples: DataFrame,
    text: str,
    encoded: bool = False,
    dictionary: DataFrame | None = None,
) -> DataFrame:
    """Run SPARQL text over a raw (subject, predicate, object) frame —
    the generic-vocabulary twin of :func:`plans.sparql.sparql`. Shares
    the parser (and therefore the full grammar: paths, PREFIX, FILTER,
    UNION, VALUES, ASK/CONSTRUCT, aggregates); strings join as given,
    MIN/MAX apply to anything (one term universe).

    ``encoded=True`` runs joins/closures/distincts on ``xxhash64``
    int64 term ids instead of strings (the S2RDF-style surrogate-id
    design, hash-derived so ingest needs no id service), decoding via
    the dictionary only on the final projection. Queries that need
    term STRINGS mid-plan (FILTER/VALUES/MIN/MAX) fall back to the
    string path automatically — results are identical either way
    (equivalence-tested).

    Honest cost accounting (measured, sf0.1 / 1.5M triples, short
    IRIs): per-query the STRING path wins (~3x) — the dictionary
    distinct and the final decode joins cost more than short-string
    joins save. The encoded path is the design for (a) a dictionary
    built ONCE at ingest and passed via ``dictionary=`` (persist
    :func:`term_dictionary`'s output next to the triples), and (b)
    real-world IRI lengths (LUBM/DBpedia IRIs run 40-120 bytes, not
    the ~12 of these fixtures) where hash-compare beats string-compare
    in the join hot loop."""
    q = parse_sparql(text, validate_vocab=False)
    return _run_parsed(triples, q, encoded=encoded, dictionary=dictionary)


def sparql_quads(
    quads: DataFrame,
    text: str,
    encoded: bool = False,
    dictionary: DataFrame | None = None,
) -> DataFrame:
    """SPARQL over an RDF DATASET: a quad frame with a ``graph``
    column alongside (subject, predicate, object). Graph semantics
    follow the SPARQL dataset model:

    * patterns outside GRAPH match the default graph — rows whose
      ``graph`` is NULL,
    * ``GRAPH <iri> { ... }`` scopes its patterns to that named graph
      (a partition-prunable filter when the store is written
      partitioned by graph),
    * ``GRAPH ?g { ... }`` iterates the named graphs, binding ?g — a
      string column, shared across blocks to join within one graph.

    Everything else (paths, FILTER, OPTIONAL/MINUS/EXISTS, aggregates,
    the xxhash64-encoded join path) is inherited from
    :func:`sparql_triples`; graph names, like predicate names, are
    never hash-encoded."""
    if "graph" not in quads.columns:
        raise ValueError("sparql_quads needs a 'graph' column (nullable)")
    q = parse_sparql(text, validate_vocab=False)
    return _run_parsed(quads, q, encoded=encoded, dictionary=dictionary)


def _apply_dataset_clauses(triples: DataFrame, q: ParsedQuery) -> DataFrame:
    """SPARQL dataset clauses over a quad frame: when FROM / FROM
    NAMED appear, the query's dataset is EXACTLY what they describe —
    default graph = the merge of the FROM graphs (re-tagged NULL),
    named-graph universe = the FROM NAMED list; graphs outside either
    list vanish. Pure filters + a union: partition-prunable against a
    graph-partitioned store."""
    if not (q.from_graphs or q.from_named):
        return triples
    if "graph" not in triples.columns:
        raise SparqlUnsupportedError(
            "FROM / FROM NAMED need a quad frame with a 'graph' column"
        )
    parts = []
    if q.from_graphs:
        parts.append(
            triples.filter(F.col("graph").isin(q.from_graphs)).withColumn(
                "graph", F.lit(None).cast("string")
            )
        )
    if q.from_named:
        parts.append(triples.filter(F.col("graph").isin(q.from_named)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _run_parsed(
    triples: DataFrame,
    q: ParsedQuery,
    encoded: bool = False,
    dictionary: DataFrame | None = None,
) -> DataFrame:
    triples = _apply_dataset_clauses(triples, q)
    _rewrite_notbound(q)
    if q.form == "describe":
        consts = [t for t in q.describe_terms if not t.startswith("?")]
        nodes = None
        if consts:
            nodes = triples.sparkSession.createDataFrame(
                [(c,) for c in consts], "v string"
            )
        if q.select:
            sol = _compile(triples, q, q.where)
            for v in q.select:
                nd = sol.select(F.col(v[1:]).alias("v"))
                nodes = nd if nodes is None else nodes.unionByName(nd)
        assert nodes is not None
        nodes = nodes.distinct()
        tri = triples.select("subject", "predicate", "object")
        subj = tri.join(nodes, tri["subject"] == nodes["v"], "leftsemi")
        obj = tri.join(nodes, tri["object"] == nodes["v"], "leftsemi")
        return subj.unionByName(obj).distinct()
    enc = encoded and not _needs_strings(q)
    if enc and dictionary is None:
        dictionary = term_dictionary(triples)
    pvars = _predicate_vars(q)

    def decode(df: DataFrame, cols: list[str]) -> DataFrame:
        # predicate vars bind NAMES (strings) even on the encoded
        # path — only endpoint id columns go through the dictionary
        cols = [c for c in cols if c not in pvars]
        return _decode_cols(df, dictionary, cols) if enc else df

    if q.aggs:
        if q.where.unions:
            raise SparqlUnsupportedError("aggregates over UNION are unsupported")
        sol = _compile(triples, q, q.where, encoded=enc)
        gvars = [v[1:] for v in q.group_by]
        from rdf_mapreduce_joins_spark.plans.sparql import _literal_agg

        aggs = []
        for fn, var, dist, alias, sep in q.aggs:
            a = alias[1:]
            if var is None:
                aggs.append(F.count(F.lit(1)).alias(a))
                continue
            name = var[1:]
            if name not in sol.columns:
                raise SparqlUnsupportedError(f"aggregate over unbound variable {var}")
            if fn == "COUNT":
                e = F.countDistinct(name) if dist else F.count(name)
            else:
                e = _literal_agg(fn, name, dist, sep)
            aggs.append(e.alias(a))
        out = sol.groupBy(*gvars).agg(*aggs) if gvars else sol.agg(*aggs)
        out = decode(out, gvars)  # group keys decode once per group
        if q.having is not None:
            out = out.filter(F.expr(q.having[1]))
        out = out.select(*[v[1:] for v in q.select])
    elif q.form == "ask":
        sol = _compile(triples, q, q.where, encoded=enc)
        return sol.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))
    elif q.where.unions:
        parts = [_compile(triples, q, b, encoded=enc) for b in q.where.unions]
        out = parts[0].select(*[v[1:] for v in q.select])
        for p in parts[1:]:
            out = out.unionByName(p.select(*[v[1:] for v in q.select]))
        if q.distinct:
            out = out.distinct()  # distinct over ids when encoded
        out = decode(out, [v[1:] for v in q.select])
        out = out.select(*[v[1:] for v in q.select])
    else:
        out = _compile(triples, q, q.where, encoded=enc).select(
            *[v[1:] for v in q.select]
        )
        if q.distinct:
            out = out.distinct()
        out = decode(out, [v[1:] for v in q.select])
        out = out.select(*[v[1:] for v in q.select])
    if q.form == "construct":
        def term(t: str) -> F.Column:
            return F.col(t[1:]) if t.startswith("?") else F.lit(t)

        assert q.template is not None
        parts = [
            out.select(
                term(s).alias("subject"),
                F.lit(p).alias("predicate"),
                term(o).alias("object"),
            )
            for s, p, o in q.template
        ]
        tri = parts[0]
        for pdf in parts[1:]:
            tri = tri.unionByName(pdf)
        return tri.distinct()
    if q.order_by:
        cols = [
            F.col(v[1:]).asc_nulls_last() if asc else F.col(v[1:]).desc_nulls_last()
            for v, asc in q.order_by
        ]
        out = out.orderBy(*cols)
    if q.offset is not None:
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


# --------------------------------------------------------------------------
# Persisted triples store: encode + dictionary ONCE at ingest
# --------------------------------------------------------------------------


def build_triples_store(triples: DataFrame, path: str) -> None:
    """Persist a raw triples frame as the query-optimized on-disk
    layout (the ingest step a production deployment runs once per
    load, not per query):

    * ``{path}/triples`` — hive-partitioned by PREDICATE, holding both
      the term strings and their ``xxhash64`` ids. Per-pattern
      predicate filters prune whole partition DIRECTORIES at file
      listing (the same pruning the star schema gets from vertical
      partitioning); parquet column pruning means the encoded path
      reads only the two int64 columns and the string path only the
      two string columns — one store serves both.
    * ``{path}/dictionary`` — (id, term), built once; per-query decode
      joins read this instead of re-distincting the corpus (the cost
      that made the inline encoded path lose locally — see
      :func:`sparql_triples`'s cost note).

    Run :func:`dictionary_collisions` on the dictionary after ingest —
    zero is required for the encoded path to be exact."""
    enc = triples.select(
        "predicate",
        "subject",
        "object",
        F.xxhash64("subject").alias("subject_id"),
        F.xxhash64("object").alias("object_id"),
    )
    enc.write.mode("overwrite").partitionBy("predicate").parquet(f"{path}/triples")
    term_dictionary(triples).write.mode("overwrite").parquet(f"{path}/dictionary")


def build_quads_store(quads: DataFrame, path: str) -> None:
    """Quad-store sibling of :func:`build_triples_store` for RDF
    DATASETS: hive-partitioned by (graph, predicate) — a ``GRAPH
    <iri>`` block prunes to one graph directory and each pattern's
    predicate filter prunes inside it, both at file listing. Default-
    graph rows (NULL graph) land in the hive null partition and read
    back as NULL, so :func:`sparql_quads` default-graph semantics hold
    unchanged against the store."""
    enc = quads.select(
        "graph",
        "predicate",
        "subject",
        "object",
        F.xxhash64("subject").alias("subject_id"),
        F.xxhash64("object").alias("object_id"),
    )
    enc.write.mode("overwrite").partitionBy("graph", "predicate").parquet(
        f"{path}/quads"
    )
    term_dictionary(quads).write.mode("overwrite").parquet(f"{path}/dictionary")


def sparql_quads_indexed(spark, path: str, text: str) -> DataFrame:
    """SPARQL over a persisted quad store (:func:`build_quads_store`):
    graph + predicate partition pruning at file listing, pre-encoded
    ids, on-disk dictionary."""
    # drop() is a no-op when the column is absent: batch-built stores
    # have no ingest_batch, streamed ones carry it as a partition col.
    quads = read_parquet(spark, f"{path}/quads").drop("ingest_batch")
    dictionary = read_parquet(spark, f"{path}/dictionary").drop("ingest_batch")
    return sparql_quads(quads, text, encoded=True, dictionary=dictionary)


def sparql_triples_indexed(spark, path: str, text: str) -> DataFrame:
    """Run SPARQL text against a persisted triples store
    (:func:`build_triples_store`): dictionary loaded from disk (no
    per-query distinct), ids read pre-encoded from parquet (no
    per-query hashing), predicate filters pruning partitions at file
    listing. Queries that need term strings mid-plan automatically use
    the store's string columns instead (same fallback rule as the
    inline path)."""
    tri = read_parquet(spark, f"{path}/triples").drop("ingest_batch")
    dictionary = read_parquet(spark, f"{path}/dictionary").drop("ingest_batch")
    return sparql_triples(tri, text, encoded=True, dictionary=dictionary)


# --------------------------------------------------------------------------
# Declared query: the generic executor under the driver's oracle gate
# --------------------------------------------------------------------------

from pyspark.sql import SparkSession  # noqa: E402

from rdf_mapreduce_joins_spark.plans.rdf import triples  # noqa: E402
from rdf_mapreduce_joins_spark.plans.registry import query  # noqa: E402


_STORE_ROOT = "/root/repo/.scratch/triples_store"


def _store_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-on-miss cached store for the fixtures' triples view, keyed
    by sf dir. The ``_BUILT`` marker records the identity of the source
    parquet it was built from (sources/tables.py::file_identity), and a
    different identity rebuilds it: a re-provisioned fixture set, or a
    copy that keeps older mtimes, must not serve a stale store."""
    import os
    from pathlib import Path

    name = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(_STORE_ROOT, name)
    marker = os.path.join(path, "_BUILT")
    ident = repr(sorted(
        (f, file_identity(os.path.join(sf_dir, f)))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    ))
    built = Path(marker).read_text() if os.path.exists(marker) else None
    if built != ident:
        build_triples_store(triples(spark, sf_dir), path)
        Path(marker).write_text(ident)
    return path


@query(
    "rdf_generic_indexed_sparql",
    oracle="""
    SELECT 'customer/' || c_custkey AS c, n_name AS nname, r_name AS rname
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def rdf_generic_indexed_sparql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-store generic executor under the oracle gate:
    same SPARQL text as rdf_generic_triples_sparql, but ids come
    pre-encoded from the partitioned store and the decode dictionary
    loads from disk (built once per fixture set, rebuilt when the
    source files' identity changes).
    This is the deployment shape where the encoded design wins: the
    per-query dictionary build — the measured cost that made inline
    encoding lose locally — is amortized to zero."""
    path = _store_path(spark, sf_dir)
    return sparql_triples_indexed(
        spark,
        path,
        """
        SELECT ?c ?nname ?rname WHERE {
          ?c <mktsegment> "BUILDING" ; <nation> ?n .
          ?n <name> ?nname ; <region> ?r .
          ?r <name> ?rname .
        }
        """,
    )


@query(
    "rdf_generic_triples_sparql",
    oracle="""
    SELECT 'customer/' || c_custkey AS c, n_name AS nname, r_name AS rname
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def rdf_generic_triples_sparql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generic-vocabulary executor end-to-end under the oracle
    gate: SPARQL text over a RAW (subject, predicate, object) frame —
    no dictionary encoding, no vocabulary validation, no scan pruning;
    string joins as an N-Triples user would run them (the star-schema
    triples view stands in for parsed N-Triples; the byte-level round
    trip is covered by test_generic_rdf.py). The star compiler answers
    the same text ~2x faster on encoded ids — this query pins the
    generic path's CORRECTNESS, the tests pin its equivalence."""
    return sparql_triples(
        triples(spark, sf_dir),
        """
        SELECT ?c ?nname ?rname WHERE {
          ?c <mktsegment> "BUILDING" ; <nation> ?n .
          ?n <name> ?nname ; <region> ?r .
          ?r <name> ?rname .
        }
        """,
    )


@query(
    "rdf_generic_seq_closure",
    oracle="""
    WITH RECURSIVE m2(src, dst) AS (
      -- composed edge s -> s//4 exists only when the intermediate
      -- s//2 IS a supplier (each atomic manager hop needs a supplier
      -- source); further closure hops additionally need dst itself to
      -- be a supplier — on contiguous fixture keys both joins are
      -- no-ops, but replica-offset keys (sf1) have non-supplier
      -- intermediates that must stop the path, as the engine's
      -- composed-edge closure does
      SELECT s.s_suppkey, s.s_suppkey // 4
      FROM supplier s JOIN supplier mid ON mid.s_suppkey = s.s_suppkey // 2
      WHERE s.s_suppkey >= 2
      UNION
      SELECT c.src, c.dst // 4
      FROM m2 c
      JOIN supplier d ON d.s_suppkey = c.dst
      JOIN supplier mid ON mid.s_suppkey = c.dst // 2
      WHERE c.dst >= 2
    )
    SELECT 'supplier/' || src AS s, 'supplier/' || dst AS anc FROM m2
    """,
)
def rdf_generic_seq_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-sequence path closure on the GENERIC executor (VERDICT
    r2 #5 — parity with the star compiler's rdf_path_seq_closure):
    ``(<manager>/<manager>)+`` over a raw (s, p, o) frame. The two
    manager hops compose into one derived edge relation via a chained
    equi-join on raw strings (no FK spec resolution — one RDF node
    universe), and the iterative-doubling closure runs on the COMPOSED
    edges: even-distance ancestors only, a genuinely different result
    from <manager>+. Same WITH RECURSIVE floor-division oracle as the
    star variant, so the generic lowering is differential-tested
    independently of plans/rdf.py."""
    return sparql_triples(
        triples(spark, sf_dir),
        "SELECT ?s ?anc WHERE { ?s (<manager>/<manager>)+ ?anc . }",
    )


@query(
    "rdf_named_graph_join",
    oracle="""
    SELECT s, nm FROM (
        SELECT 'customer/' || c_custkey AS s, n_name AS nm
        FROM customer JOIN nation ON n_nationkey = c_nationkey
        UNION ALL
        SELECT 'supplier/' || s_suppkey, n_name
        FROM supplier JOIN nation ON n_nationkey = s_nationkey
    ) t
    ORDER BY s NULLS LAST, nm NULLS LAST
    """,
)
def rdf_named_graph_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named graphs under the oracle gate: the star triples view is
    split into an RDF dataset (<edges> holds the nation FKs, <labels>
    the name literals, everything else in the default graph), and the
    query joins ACROSS two GRAPH blocks on the shared ?n — the SPARQL
    dataset model's cross-graph join. The oracle re-derives the same
    relation from the base star schema independently of any triples
    rendering."""
    tri = triples(spark, sf_dir)
    quads = tri.withColumn(
        "graph",
        F.when(F.col("predicate") == "nation", "edges")
        .when(F.col("predicate") == "name", "labels")
        .otherwise(F.lit(None)),
    )
    return sparql_quads(
        quads,
        """
        SELECT ?s ?nm WHERE {
          GRAPH <edges> { ?s <nation> ?n . }
          GRAPH <labels> { ?n <name> ?nm . }
        }
        ORDER BY ?s ?nm
        """,
    )
