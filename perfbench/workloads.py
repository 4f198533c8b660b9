"""Workload definitions: operation templates, seeded literal bindings, and
the fixed operation sequence each run executes.

A template is one kind of operation. Its Cypher text and DuckDB oracle SQL
come from the package catalog where the catalog has them, and are written
here where it does not (the write templates and the closure operator).
Literals are bound per operation from the seed by textual substitution
applied to the Cypher and the oracle alike, so the two always agree.

Every run of a workload executes each template the same number of times
(``passes``); the seed only chooses the literals and the order. Two seeds
therefore run the same mix of operations, which keeps the run-to-run
spread down to the spread of the system itself.
"""

from __future__ import annotations

import random
import re
import textwrap
from dataclasses import dataclass, field

from opencyphertranspiler_spark.catalog import catalog_by_name

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@dataclass(frozen=True)
class Slot:
    """One seeded literal. For the chosen value ``v`` every ``(old, new)``
    pair in ``subs`` replaces ``old`` by ``new.format(*v)`` (``v`` a tuple)
    or ``new.format(v)`` wherever ``old`` occurs in the Cypher or the
    oracle; pairs exist because the two languages spell some literals
    differently."""

    subs: tuple[tuple[str, str], ...]
    values: tuple


@dataclass(frozen=True)
class Template:
    """One kind of operation. ``cypher`` is the statement sent to the
    engine; for the ``graph`` kind it is the SQL filter that selects the
    operator's input edges."""

    name: str
    kind: str  # "read" | "write" | "graph"
    cypher: str
    oracle: str
    slots: tuple[Slot, ...] = ()


@dataclass(frozen=True)
class Op:
    """One operation of the fixed sequence: a template with bound literals."""

    index: int
    template: Template
    binding: tuple
    cypher: str = field(repr=False)
    oracle: str = field(repr=False)

    @property
    def key(self) -> tuple:
        return (self.template.name, self.binding)


def _slot(old: str, new: str, values, *more: tuple[str, str]) -> Slot:
    return Slot(((old, new),) + tuple(more), tuple(values))


def _substitute(text: str, subs: dict[str, str]) -> str:
    """Apply all replacements in one pass, so that one replacement's
    output is never rewritten by another."""
    pattern = re.compile("|".join(re.escape(o) for o in subs))
    return pattern.sub(lambda m: subs[m.group(0)], text)


def _catalog(name: str, *slots: Slot) -> Template:
    e = catalog_by_name()[name]
    return Template(
        name, "read", textwrap.dedent(e.cypher), textwrap.dedent(e.oracle), slots
    )


# ---- read templates (catalog Cypher entries) --------------------------------

_SEG = _slot("'BUILDING'", "'{}'", SEGMENTS)
_SEG_MACH = _slot("'MACHINERY'", "'{}'", SEGMENTS)

READS = {
    t.name: t
    for t in [
        _catalog("q01_match_where_agg", _SEG),
        _catalog(
            "q02_multi_hop",
            # nine part sizes whichever the seed: the same share of lineitem
            _slot("p.p_size < 10", "p.p_size >= {0} AND p.p_size < {1}",
                  [(v, v + 9) for v in (1, 11, 21, 31, 41)]),
        ),
        _catalog(
            "q03_rel_uniqueness",
            _slot("l1.l_returnflag = 'R'", "l1.l_returnflag = '{}'", "RA"),
        ),
        _catalog("q05_alias_swap", _slot("> 150000", "> {}", [100000, 150000, 200000])),
        _catalog(
            "q06_optional_match", _slot("> 100000", "> {}", [50000, 100000, 200000])
        ),
        _catalog(
            "q08_operators_in_mod",
            _slot("['A', 'R']", "['{0}', '{1}']", [("A", "R"), ("N", "N")],
                  ("('A', 'R')", "('{0}', '{1}')")),
        ),
        _catalog("q10_string_funcs", _SEG),
        _catalog(
            "q11_agg_library",
            _slot("o_totalprice, 0.5)", "o_totalprice, {})", [0.25, 0.5, 0.75]),
        ),
        _catalog("q12_count_distinct_entity"),
        _catalog(
            "q15_orderby_limits_implicit_field",
            _slot("SKIP 5", "SKIP {}", [0, 3, 5, 8], ("OFFSET 5", "OFFSET {}")),
        ),
        _catalog(
            "q21_exists_pattern",
            _slot("l_linenumber: 7", "l_linenumber: {}", [5, 6, 7],
                  ("l.l_linenumber = 7", "l.l_linenumber = {}")),
        ),
        _catalog(
            "q24_comma_patterns_dates",
            _slot("'1997-01-01'", "'{}-01-01'", [1995, 1996, 1997]),
        ),
        _catalog(
            "q25_chained_match_piped_entity",
            _slot("c_acctbal > 0", "c_acctbal > {}", [-500, 0, 2500, 5000]),
        ),
        _catalog(
            "q32_where_implicit_field",
            _slot("c_acctbal > 5000", "c_acctbal > {}", [2500, 5000, 7500]),
        ),
        _catalog("q33_multi_entity_grouping"),
        _catalog("q35_having_on_aggregate", _slot(">= 10", ">= {}", [5, 10, 15, 20])),
        _catalog("q37_multi_rel_types", _SEG_MACH),
        _catalog(
            "q40_temporal",
            # the window's two bounds move together: year v to year v + 1
            _slot("1995-01-01", "{0}-01-01", [(y, y + 1) for y in range(1993, 1997)],
                  ("1996-01-01", "{1}-01-01")),
        ),
        _catalog(
            "q43_call_subquery", _slot("> 150000", "> {}", [100000, 150000, 200000])
        ),
    ]
}


# ---- write templates: functional writes with a boundary read (q44 style) ----

_Q44_ORACLE = textwrap.dedent(catalog_by_name()["q44_write_set"].oracle)

WRITES = {
    t.name: t
    for t in [
        Template(
            "w_set",
            "write",
            """
            MATCH (c:Customer) WHERE c.c_acctbal < 0
            SET c.c_mktsegment = 'NEGATIVE', c.risk_flag = true
            WITH count(*) AS wrote
            MATCH (c:Customer)-[:PLACED]->(o:Orders)
            RETURN c.c_mktsegment AS seg,
                   sum(CASE WHEN c.risk_flag THEN 1 ELSE 0 END) AS flagged,
                   count(*) AS n, round(sum(o.o_totalprice), 1) AS total
            """,
            _Q44_ORACLE,
            (_slot("c.c_acctbal < 0", "c.c_acctbal < {}", [-500, 0, 1000, 3000]),),
        ),
        Template(
            "w_create",
            "write",
            """
            MATCH (c:Customer) WHERE c.c_custkey <= 20
            CREATE (c)-[:PLACED]->(o:Orders {o_orderkey: 9000000 + c.c_custkey,
                    o_totalprice: c.c_acctbal, o_orderstatus: 'N'})
            WITH count(*) AS made
            MATCH (c:Customer)-[:PLACED]->(o:Orders)
            RETURN o.o_orderstatus AS status, count(*) AS n,
                   round(sum(o.o_totalprice), 1) AS total
            """,
            """
            SELECT status, count(*) AS n, round(sum(price), 1) AS total FROM (
                SELECT o.o_orderstatus AS status, o.o_totalprice AS price
                FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                UNION ALL
                SELECT 'N', c_acctbal FROM customer WHERE c_custkey <= 20
            ) GROUP BY status
            """,
            (_slot("c_custkey <= 20", "c_custkey <= {}", [10, 20, 40, 80]),),
        ),
        Template(
            "w_merge",
            "write",
            """
            MATCH (n:Nation)-[:IN_REGION]->(r:Region) WHERE n.n_nationkey < 10
            MERGE (x:Region {r_regionkey: 100 + r.r_regionkey, r_name: 'SHADOW'})
            WITH count(*) AS merged
            MATCH (r:Region)
            RETURN r.r_name AS name, count(*) AS n
            """,
            """
            SELECT name, count(*) AS n FROM (
                SELECT r_name AS name FROM region
                UNION ALL
                SELECT 'SHADOW' FROM (
                    SELECT DISTINCT n_regionkey FROM nation
                    WHERE n_nationkey < 10)
            ) GROUP BY name
            """,
            (_slot("n_nationkey < 10", "n_nationkey < {}", [3, 10, 20]),),
        ),
        Template(
            "w_detach_delete",
            "write",
            """
            MATCH (c:Customer) WHERE c.c_custkey % 7 = 0
            DETACH DELETE c
            WITH count(*) AS gone
            MATCH (c:Customer)-[:PLACED]->(o:Orders)
            RETURN c.c_mktsegment AS seg, count(*) AS n
            """,
            """
            SELECT c.c_mktsegment AS seg, count(*) AS n
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
            WHERE NOT (c.c_custkey % 7 = 0)
            GROUP BY 1
            """,
            (_slot("c_custkey % 7", "c_custkey % {}", [3, 5, 7, 11]),),
        ),
    ]
}


# ---- graph operator: path-doubling transitive closure (p14 shape) ----------

CLOSURE = Template(
    "p14_transitive_closure",
    "graph",
    # the break every tenth part key shifts with the seed; chain lengths and
    # therefore the number of doubling rounds stay the same
    "(p_partkey + 0) % 10 <> 0",
    """
    WITH RECURSIVE e AS (
        SELECT p_partkey AS src, p_partkey + 1 AS dst FROM part
        WHERE (p_partkey + 0) % 10 <> 0
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
    )
    SELECT src, dst FROM reach
    """,
    (_slot("(p_partkey + 0)", "(p_partkey + {})", range(10)),),
)


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str
    #: untimed warm-up passes, as (scale factor, passes) in order. Table
    #: schemas are the same at every scale, so a pass over KB-sized tables
    #: compiles the same code (JIT, whole-stage codegen) at a fraction of
    #: the cost; a second pass lets the JIT settle further (after one, the
    #: first timed passes ran 20-40% slower than the later ones).
    warmup: tuple[tuple[str, int], ...]
    #: templates every pass runs once
    every_pass: tuple[Template, ...]
    #: seconds of one timed pass on a 4-core host, rounded up; ``--seconds``
    #: divided by this fixes the number of timed passes a run makes
    pass_seconds: float
    #: templates that take turns, ``rotate_per_pass`` of them per pass
    rotating: tuple[Template, ...] = ()
    rotate_per_pass: int = 0

    @property
    def templates(self) -> tuple[Template, ...]:
        return self.every_pass + self.rotating

    def pass_templates(self, k: int) -> list[Template]:
        n, r = len(self.rotating), self.rotate_per_pass
        return list(self.every_pass) + [
            self.rotating[(k * r + i) % n] for i in range(r)
        ]


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "interactive",
            "0.001",
            (("0.001", 2),),
            tuple(
                READS[n]
                for n in [
                    "q01_match_where_agg", "q05_alias_swap", "q10_string_funcs",
                    "q11_agg_library", "q21_exists_pattern",
                    "q24_comma_patterns_dates", "q40_temporal", "q43_call_subquery",
                ]
            ),
            6.5,
            # one operation in five is a write; the four kinds take turns
            rotating=tuple(WRITES.values()),
            rotate_per_pass=2,
        ),
        Workload(
            "analytic",
            "0.1",
            (("0.001", 1),),
            tuple(
                READS[n]
                for n in [
                    "q01_match_where_agg", "q02_multi_hop", "q03_rel_uniqueness",
                    "q06_optional_match", "q08_operators_in_mod",
                    "q11_agg_library", "q12_count_distinct_entity",
                    "q24_comma_patterns_dates", "q33_multi_entity_grouping",
                    "q37_multi_rel_types",
                ]
            )
            + (CLOSURE,),
            13.0,
        ),
    ]
}


def bind(t: Template, rng: random.Random, index: int) -> Op:
    values = tuple(rng.choice(s.values) for s in t.slots)
    cypher, oracle = t.cypher, t.oracle
    for s, v in zip(t.slots, values):
        args = v if isinstance(v, tuple) else (v,)
        subs = {old: new.format(*args) for old, new in s.subs}
        # a catalog edit that drops a literal must fail the run, not
        # silently leave one side unbound
        for text, where in ((t.cypher, "Cypher"), (t.oracle, "oracle")):
            if not any(old in text for old in subs):
                raise ValueError(f"{t.name}: no literal of {subs} in its {where}")
        cypher, oracle = _substitute(cypher, subs), _substitute(oracle, subs)
    return Op(index, t, values, cypher, oracle)


def passes_for(w: Workload, seconds: int, traced: bool) -> int:
    """Passes a run makes: ``seconds`` over the nominal pass time. A traced
    run makes at least two, so that every template runs both traced and
    untraced and the tracing overhead can be measured per template."""
    return max(2 if traced else 1, round(seconds / w.pass_seconds))


def sequence(w: Workload, seed: int, passes: int) -> list[Op]:
    """The run's fixed operation sequence: ``passes`` rounds, each holding
    that pass's templates once, in a seeded order with seeded literals."""
    rng = random.Random(f"{w.name}:{seed}")
    ops: list[Op] = []
    for k in range(passes):
        order = w.pass_templates(k)
        rng.shuffle(order)
        for t in order:
            ops.append(bind(t, rng, len(ops)))
    return ops


def warmup(w: Workload, passes: int) -> list[Op]:
    """Warm-up operations, bound by a generator that does not depend on
    the seed. The first pass runs every template, rotating ones included."""
    ops = sequence(w, -1, passes)
    if w.rotating:
        ops[: len(w.every_pass) + w.rotate_per_pass] = [
            bind(t, random.Random(0), i) for i, t in enumerate(w.templates)
        ]
    return ops


#: the operation a traced run adds for a layer its workload's mix never
#: enters, and the per-layer metrics that operation supplies
PROBES = {
    "write": (WRITES["w_set"], ("writes.cypher_write_ms", "writes.materialize_ms",
                                "writes.jobs")),
    "graph": (CLOSURE, ("pipeline.graph.call_ms",)),
}


def probes(w: Workload, first_index: int) -> list[Op]:
    """Untimed probe operations, one per layer kind that no template of the
    workload enters, so that a traced run measures every layer."""
    kinds = {t.kind for t in w.templates}
    missing = [t for kind, (t, _) in sorted(PROBES.items()) if kind not in kinds]
    return [bind(t, random.Random(0), first_index + i) for i, t in enumerate(missing)]
