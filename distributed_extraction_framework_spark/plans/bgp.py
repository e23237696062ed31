"""SPARQL queries compiled to DataFrame plans over the extracted quads.

The reference emits triples and stops — querying them means loading a
separate triple store. A Spark-native KG engine can answer SPARQL
queries directly over the quads DataFrame it just produced: every
triple pattern is a filtered projection of the quads table, shared
variables become equi-join keys, and Catalyst/AQE pick the physical join
strategy (broadcast for selective patterns, shuffled hash otherwise) at
runtime — exactly the worst-case-optimal concern triple stores hand-tune,
delegated to the optimizer.

Supported grammar (deliberately the well-defined core):

    SELECT [DISTINCT] item+ WHERE { group ( UNION { group' } )* }
        [GROUP BY ?v+] [HAVING ( flt' )] [ORDER BY ord+] [LIMIT n] [OFFSET n]
    flt'  := flt whose atoms may also be AGG(?v) calls or SELECT aliases
             (each AGG call becomes an internal column of the SAME
             groupBy — one aggregation pass, filtered after)
    item  := ?var | ( AGG ( [DISTINCT] ?var | * ) [; SEPARATOR="s"] AS ?alias )
    AGG   := COUNT | SUM | AVG | MIN | MAX | SAMPLE | GROUP_CONCAT
    group := ( tp . | flt | OPTIONAL { group } | MINUS { group }
               | FILTER [NOT] EXISTS { group } | BIND ( expr AS ?v )
               | VALUES ?v { const+ } | { subSELECT } )+
    tp    := term term term
    term  := ?var | <uri> | "literal" | "literal"@lang
             | path                 (predicate position only)
    path  := pseq ( '|' pseq )* ; pseq := pstep ( '/' pstep )*
    pstep := ( '^'? <uri> | '!' <uri> | '!( <uri> ( '|' <uri> )* )' )
             ('+' | '*' | '?')?
    flt   := bool over: catom cmp catom | regex(?v, "pat" [, "i"])
             | ?v [NOT] IN ( const+ ) | BOUND(?v)
             | STRSTARTS/STRENDS/CONTAINS(?v, "s") ; bool := && | "||" | !
    catom := atom | LANG(?v) | fncall   (fncall = any expr function with
             atom args, e.g. STRLEN(?v) > 4; LANG(?v) = lang tag of ?v's
             binding, "" if untagged; ?v must be bound in object
             position in the same group)
    expr  := CONCAT/COALESCE(expr+) | STR/UCASE/LCASE/STRLEN(expr)
             | ABS/ROUND/CEIL/FLOOR(expr) | SUBSTR(expr, expr [, expr])
             | REPLACE(expr, expr, expr) | STRBEFORE/STRAFTER(expr, "s")
             | IF(flt, expr, expr)
             | atom (+|-|*|/) atom | atom
    atom  := ?var | number | "string" | <uri> ; cmp := = | != | < | <= | > | >=
    ord   := ?var | ASC(?var) | DESC(?var)
    graph := GRAPH (?var | <uri>) { triples [FILTER/BIND/VALUES] }
             (named-graph scoping over the quads' provenance ``context``
             column: <uri> = an equi-filter pushed below the block's join
             tree; ?var = context exported as a binding, so patterns in
             the block equi-join on the graph name — per-graph evaluation
             with no per-graph loop)

How each construct maps to the DataFrame algebra:

* property paths — ``<p>+`` (OneOrMore) and ``<p>*`` (ZeroOrMore)
  compile to ``graph.reachability`` (repeated-squaring transitive
  closure) over the p-labelled subgraph ('*' additionally unions the
  identity relation over all graph terms, per spec); ``^<p>`` (inverse)
  swaps src/dst; ``<a>/<b>`` (sequence) joins through a hidden mid
  variable; ``<a>|<b>`` (alternative) unions the pair sets;
  ``<p>{n}`` / ``<p>{n,m}`` / ``<p>{n,}`` (the Jena-style bounded-length
  extension) compose the step relation by equi-joins in the plan —
  exact powers unioned, with ``{n,}`` = n-th power ∘ closure. Paths
  inside ``GRAPH ?g`` evaluate per named graph: the whole path algebra
  (joins, closures, identity) carries the graph as an extra join key,
  so closures never cross graphs and there is still no per-graph loop.
* ``FILTER`` — a Catalyst predicate; the optimizer pushes it below the
  joins (and into the scans) whenever legal. Comparison against a
  numeric literal coerces the variable to double (SPARQL numeric-order
  semantics); var-to-var and string comparisons stay lexicographic.
* ``OPTIONAL { … }`` — SPARQL left-join: the optional group compiles to
  its own join tree, then LEFT OUTER joins the required part on the
  shared variables; unmatched rows carry NULL (SPARQL "unbound").
* ``{ … } UNION { … }`` — each branch compiles independently;
  ``unionByName(allowMissingColumns=True)`` NULL-fills variables bound
  in only one branch (SPARQL bag union with partial bindings).
* ``VALUES ?v { … }`` — an inline broadcast relation equi-joined on the
  variable; Catalyst turns it into a broadcast hash join / IN-filter.
* ``MINUS { … }`` — LEFT ANTI join on the shared variables (set-minus of
  compatible solutions); a MINUS group sharing no variable removes
  nothing, per the SPARQL algebra.
* ``FILTER EXISTS { … }`` / ``FILTER NOT EXISTS { … }`` — LEFT SEMI /
  LEFT ANTI join on the shared variables. Both compile to one
  hash-join probe, never a correlated subquery per row.
* ``BIND(expr AS ?v)`` — ``withColumn`` with a Catalyst expression
  (string/numeric function library + binary arithmetic with SPARQL
  numeric coercion, IF/COALESCE conditionals); applied after the
  group's patterns, before its FILTERs. The same function library is
  usable inside FILTER comparisons (``FILTER(STRLEN(?l) > 4)``).
  SPARQL-spec deviations, both shared with the DuckDB oracle: ROUND
  ties go away-from-zero (HALF_UP) rather than toward +inf, and
  STRBEFORE/STRAFTER require a literal separator.
* negated property sets ``!<p>`` / ``!(<a>|<b>)`` — a NOT-IN predicate
  on the pred column, same single scan as a forward step.
* aggregates + ``GROUP BY`` — ``df.groupBy(keys).agg(…)``; map-side
  partial aggregation comes free. SUM/AVG coerce to double (the quads
  object column is lexical); COUNT/MIN/MAX operate on the lexical form.
* ``ORDER BY`` + ``LIMIT`` — global sort is a TakeOrderedAndProject when
  LIMIT is present (per-partition top-n, no full sort shuffle).

Semantics: bag (multiset) joins per the SPARQL algebra; ``DISTINCT``
projects to set semantics. Terms are matched against the quads columns
(subj / pred / obj; ``@lang`` additionally constrains ``lang``).

Scale shape: each pattern scan carries its constant filters down to the
parquet scan (Catalyst pushdown); the same quads DataFrame is referenced
once per pattern, so a cached/bucketed quads table makes every pattern a
local scan. No collect; no driver-side joins.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.graph import reachability
from ..session import local_frame

# one property-path step: forward/inverse URI, a negated URI, or a
# negated property set !(<a>|<b>), each optionally quantified by
# + * ? or a bounded {n} / {n,m} / {n,} (tokenized here so the brace
# quantifier never reads as a group-block brace)
_STEP_SRC = (
    r"(?:!\(\^?<[^<>\s]+>(?:\|\^?<[^<>\s]+>)*\)|!?\^?<[^<>\s]+>)"
    r"(?:[+*?]|\{\d+(?:,\d*)?\})?"
)
_TOKEN = re.compile(
    r"\?[A-Za-z_]\w*"              # ?var
    # property-path expression (predicate position): steps joined by
    # / (sequence) or | (alternative); plain <uri> and <uri>+ are the
    # degenerate cases
    rf"|{_STEP_SRC}(?:[/|]{_STEP_SRC})*"
    r'|"(?:[^"\\]|\\.)*"(?:@[\w-]+)?'  # "literal"(@lang)
)
_SIMPLE_URI = re.compile(r"^<[^<>\s]+>$")
_SIMPLE_PLUS = re.compile(r"^<[^<>\s]+>\+$")
_HEAD = re.compile(
    r"^\s*SELECT\s+(?P<distinct>DISTINCT\s+)?(?P<vars>.*?)\s+WHERE\s*(?=\{)",
    re.IGNORECASE | re.DOTALL,
)
_TAIL = re.compile(
    r"^\s*(?:GROUP\s+BY\s+(?P<groupby>(?:\?\w+\s*)+))?"
    r"\s*(?:ORDER\s+BY\s+(?P<orderby>(?:(?:ASC|DESC)\s*\(\s*\?\w+\s*\)|\?\w+)"
    r"(?:\s+(?:(?:ASC|DESC)\s*\(\s*\?\w+\s*\)|\?\w+))*))?"
    # LIMIT/OFFSET may appear in either order (SPARQL LimitOffsetClauses)
    r"\s*(?:LIMIT\s+(?P<limit>\d+)\s*(?:OFFSET\s+(?P<offset>\d+))?"
    r"|OFFSET\s+(?P<offset2>\d+)\s*(?:LIMIT\s+(?P<limit2>\d+))?)?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SEL_ITEM = re.compile(
    r"\?(?P<var>[A-Za-z_]\w*)"
    r"|\(\s*(?P<agg>COUNT|SUM|AVG|MIN|MAX|SAMPLE|GROUP_CONCAT)"
    r"\s*\(\s*(?P<dist>DISTINCT\s+)?"
    r"(?:\?(?P<arg>\w+)|(?P<star>\*))\s*"
    r'(?:;\s*SEPARATOR\s*=\s*"(?P<sep>(?:[^"\\]|\\.)*)"\s*)?'
    r"\)\s+AS\s+\?(?P<alias>\w+)\s*\)",
    re.IGNORECASE,
)
_ORD_ITEM = re.compile(
    r"(?:(?P<dir>ASC|DESC)\s*\(\s*\?(?P<pv>\w+)\s*\))|\?(?P<v>\w+)",
    re.IGNORECASE,
)


@dataclass(frozen=True)
class Term:
    kind: str  # 'var' | 'uri' | 'path' | 'lit'
    value: str
    lang: str | None = None


@dataclass(frozen=True)
class SelItem:
    name: str               # output column name
    agg: str | None = None  # count|sum|avg|min|max|sample|group_concat
    arg: str | None = None  # source var; None with agg='count' means *
    distinct: bool = False
    sep: str | None = None  # GROUP_CONCAT separator (default " ")


@dataclass
class Group:
    triples: list = field(default_factory=list)
    filters: list = field(default_factory=list)
    optionals: list = field(default_factory=list)   # list[Group]
    values: list = field(default_factory=list)      # list[(var, [Term])]
    minus: list = field(default_factory=list)       # list[Group]
    exists: list = field(default_factory=list)      # list[(positive, Group)]
    binds: list = field(default_factory=list)       # list[(var, expr_str)]
    subselects: list = field(default_factory=list)  # list[ParsedQuery]
    graphs: list = field(default_factory=list)      # list[(Term, Group)]


def _parse_term(tok: str) -> Term:
    if tok.startswith("?"):
        return Term("var", tok[1:])
    if tok.startswith("<") or tok.startswith("^") or tok.startswith("!"):
        if _SIMPLE_URI.match(tok):
            return Term("uri", tok[1:-1])
        if _SIMPLE_PLUS.match(tok):
            return Term("path", tok[1:-2])
        return Term("pathx", tok)  # compound path expression, parsed later
    body, _, lang = tok.rpartition('"')
    lit = tok[1: len(tok) - len(lang) - 1] if lang else tok[1:-1]
    lit = lit.replace('\\"', '"').replace("\\\\", "\\")
    return Term("lit", lit, lang.lstrip("@") or None)


_NUM = re.compile(r"^-?\d+(\.\d+)?$")


def _balanced(text: str, start: int) -> int:
    """text[start] == '{' → index just past the matching '}'.

    Braces inside double-quoted literals don't count (``"a}b"`` is a
    legal literal that previously truncated the block — code-review r5
    wave-2 #10); ``\\"`` inside a literal does not close it."""
    depth = 0
    in_lit = False
    j = start
    while j < len(text):
        ch = text[j]
        if in_lit:
            if ch == "\\":
                j += 2
                continue
            if ch == '"':
                in_lit = False
        elif ch == '"':
            in_lit = True
        else:
            depth += {"{": 1, "}": -1}.get(ch, 0)
            if depth == 0:
                return j + 1
        j += 1
    raise ValueError(f"unbalanced braces in {text[start:start + 40]!r}…")


def _extract_filters(body: str) -> tuple[str, list[str]]:
    """Strip FILTER(...) clauses (paren-balanced) out of the WHERE body."""
    filters: list[str] = []
    out: list[str] = []
    i = 0
    for m in re.finditer(r"\bFILTER\s*\(", body, re.IGNORECASE):
        if m.start() < i:
            continue
        out.append(body[i: m.start()])
        depth, j = 1, m.end()
        in_lit = False
        while j < len(body) and depth:
            ch = body[j]
            if in_lit:
                if ch == "\\":
                    j += 2
                    continue
                if ch == '"':
                    in_lit = False
            elif ch == '"':
                in_lit = True
            else:
                # parens inside quoted literals don't count — e.g.
                # FILTER(regex(?l, "a)b")) (code-review r5 wave-2 #10)
                depth += {"(": 1, ")": -1}.get(ch, 0)
            j += 1
        if depth:
            raise ValueError(f"unbalanced FILTER parens in {body!r}")
        filters.append(body[m.end(): j - 1])
        i = j
    out.append(body[i:])
    return " ".join(out), filters


def _extract_blocks(body: str, opener: re.Pattern) -> tuple[str, list]:
    """Strip ``opener … { balanced }`` blocks; return (rest, [(match, inner)])."""
    blocks, out, i = [], [], 0
    for m in opener.finditer(body):
        if m.start() < i:
            continue  # inside a previously-consumed block
        out.append(body[i: m.start()])
        end = _balanced(body, m.end() - 1)
        blocks.append((m, body[m.end(): end - 1]))
        i = end
    out.append(body[i:])
    return " ".join(out), blocks


_OPTIONAL_OPEN = re.compile(r"\bOPTIONAL\s*(\{)", re.IGNORECASE)
_GRAPH_OPEN = re.compile(
    r"\bGRAPH\s+(?P<g>\?\w+|<[^<>\s]+>)\s*(\{)", re.IGNORECASE
)
_VALUES_OPEN = re.compile(r"\bVALUES\s+\?(?P<var>\w+)\s*(\{)", re.IGNORECASE)
_MINUS_OPEN = re.compile(r"\bMINUS\s*(\{)", re.IGNORECASE)
_EXISTS_OPEN = re.compile(
    r"\bFILTER\s+(?P<neg>NOT\s+)?EXISTS\s*(\{)", re.IGNORECASE
)
_SUBSELECT_OPEN = re.compile(r"\{(?=\s*SELECT\b)", re.IGNORECASE)
_BIND_OPEN = re.compile(r"\bBIND\s*\(", re.IGNORECASE)
_BIND_AS = re.compile(
    r"^(?P<expr>.*\S)\s+AS\s+\?(?P<var>\w+)\s*$", re.IGNORECASE | re.DOTALL
)


def _extract_binds(body: str) -> tuple[str, list[tuple[str, str]]]:
    """Strip ``BIND( expr AS ?v )`` clauses (paren-balanced) out of the body."""
    binds: list[tuple[str, str]] = []
    out: list[str] = []
    i = 0
    for m in _BIND_OPEN.finditer(body):
        if m.start() < i:
            continue
        out.append(body[i: m.start()])
        depth, j = 1, m.end()
        while j < len(body) and depth:
            depth += {"(": 1, ")": -1}.get(body[j], 0)
            j += 1
        if depth:
            raise ValueError(f"unbalanced BIND parens in {body!r}")
        am = _BIND_AS.match(body[m.end(): j - 1])
        if not am:
            raise ValueError(f"BIND needs 'expr AS ?var': {body[m.end():j-1]!r}")
        binds.append((am.group("var"), am.group("expr")))
        i = j
    out.append(body[i:])
    return " ".join(out), binds


def _parse_triples(text: str):
    toks = _TOKEN.findall(text)
    if len(toks) % 3:
        raise ValueError(f"WHERE body is not whole triple patterns: {toks}")
    pats = [
        tuple(_parse_term(t) for t in toks[i: i + 3])
        for i in range(0, len(toks), 3)
    ]
    for s, p, o in pats:
        if (s.kind in ("lit", "path", "pathx") or p.kind == "lit"
                or o.kind in ("path", "pathx")):
            raise ValueError(f"unsupported term position in pattern {(s, p, o)}")
    return pats


def _extract_braced(body: str):
    """One left-to-right scan consuming every top-level braced block
    (OPTIONAL / FILTER [NOT] EXISTS / MINUS / VALUES), so a block nested
    inside another block's braces is left for the recursive parse of that
    block rather than ripped out of it."""
    openers = (
        ("optional", _OPTIONAL_OPEN),
        ("exists", _EXISTS_OPEN),
        ("minus", _MINUS_OPEN),
        ("values", _VALUES_OPEN),
        ("graph", _GRAPH_OPEN),
        ("subselect", _SUBSELECT_OPEN),
    )
    out, blocks, i = [], [], 0
    while True:
        first = None
        for kind, rx in openers:
            m = rx.search(body, i)
            if m and (first is None or m.start() < first[1].start()):
                first = (kind, m)
        if first is None:
            out.append(body[i:])
            return " ".join(out), blocks
        kind, m = first
        out.append(body[i: m.start()])
        end = _balanced(body, m.end() - 1)
        blocks.append((kind, m, body[m.end(): end - 1]))
        i = end


def _parse_group(body: str) -> Group:
    g = Group()
    body, blocks = _extract_braced(body)
    vals = []
    for kind, m, inner in blocks:
        if kind == "optional":
            g.optionals.append(_parse_group(inner))
        elif kind == "exists":
            g.exists.append((not m.group("neg"), _parse_group(inner)))
        elif kind == "minus":
            g.minus.append(_parse_group(inner))
        elif kind == "graph":
            g.graphs.append((_parse_term(m.group("g")), _parse_group(inner)))
        elif kind == "subselect":
            g.subselects.append(parse_query(inner))
        else:
            vals.append((m, inner))
    for m, inner in vals:
        terms = [_parse_term(t) for t in _TOKEN.findall(inner)]
        if not terms or any(t.kind not in ("uri", "lit") for t in terms):
            raise ValueError(f"VALUES accepts only constants: {inner!r}")
        # _TOKEN has no numeric/UNDEF branch: anything it does not match
        # must REJECT loudly, not silently vanish from the inline
        # relation (VALUES ?v { <a> 5 } previously kept only <a> —
        # code-review r5 wave-2 #4)
        leftover = _TOKEN.sub("", inner).strip()
        if leftover:
            raise ValueError(
                f"unsupported VALUES term(s) {leftover!r}: only <uri> and "
                f'"literal" constants are supported'
            )
        g.values.append((m.group("var"), terms))
    body, g.binds = _extract_binds(body)
    for _, expr in g.binds:
        _parse_expr(expr)  # raise at parse time on unsupported expressions
    body, g.filters = _extract_filters(body)
    for f in g.filters:
        _parse_filter_ast(f)  # raise at parse time on unsupported filters
    g.triples = _parse_triples(body)
    if (not g.triples and not g.values and not g.subselects
            and not g.graphs):
        raise ValueError("empty group pattern")
    return g


def _parse_union(body: str) -> list[Group]:
    """``{ g } UNION { g' } …`` at the top level, else one plain group."""
    stripped = body.strip()
    # a body opening with "{ SELECT" is a subquery inside a plain group,
    # not a UNION branch list
    if not stripped.startswith("{") or _SUBSELECT_OPEN.match(stripped):
        return [_parse_group(body)]
    groups, i = [], 0
    text = stripped
    while True:
        if not text[i:].lstrip().startswith("{"):
            raise ValueError(f"expected '{{' in UNION body at {text[i:i+30]!r}")
        start = i + (len(text[i:]) - len(text[i:].lstrip()))
        end = _balanced(text, start)
        groups.append(_parse_group(text[start + 1: end - 1]))
        rest = text[end:].strip()
        if not rest:
            return groups
        m = re.match(r"UNION\b", rest, re.IGNORECASE)
        if not m:
            raise ValueError(f"expected UNION, got {rest[:30]!r}")
        i = end + (len(text[end:]) - len(text[end:].lstrip())) + m.end()


def _parse_select(head: str) -> list[SelItem]:
    items, pos = [], 0
    for m in _SEL_ITEM.finditer(head):
        if head[pos: m.start()].strip():
            raise ValueError(f"bad SELECT clause near {head[pos:m.start()]!r}")
        pos = m.end()
        if m.group("var"):
            items.append(SelItem(m.group("var")))
        else:
            sep = m.group("sep")
            if sep is not None and m.group("agg").lower() != "group_concat":
                raise ValueError("SEPARATOR is only valid on GROUP_CONCAT")
            items.append(SelItem(
                m.group("alias"),
                agg=m.group("agg").lower(),
                arg=m.group("arg"),
                distinct=bool(m.group("dist")),
                sep=(_unquote(f'"{sep}"') if sep is not None else None),
            ))
    if head[pos:].strip() or not items:
        raise ValueError(f"bad SELECT clause: {head!r}")
    for it in items:
        if it.agg is None and it.arg is None and it.name is None:
            raise ValueError("SELECT needs at least one ?var")
        if it.agg and it.arg is None and it.agg != "count":
            raise ValueError(f"{it.agg.upper()}(*) is not defined")
    return items


@dataclass(frozen=True)
class ParsedQuery:
    select: tuple
    distinct: bool
    groups: tuple          # UNION branches, each a Group
    group_by: tuple
    order_by: tuple        # (var, desc) pairs
    limit: int | None
    offset: int | None = None
    having: str | None = None


_HAVING_OPEN = re.compile(r"\bHAVING\s*\(", re.IGNORECASE)
_HAGG = re.compile(
    r"(?P<agg>COUNT|SUM|AVG|MIN|MAX|SAMPLE)\s*\(\s*(?P<dist>DISTINCT\s+)?"
    r"(?:\?(?P<arg>\w+)|\*)\s*\)",
    re.IGNORECASE,
)


def _extract_having(tail: str) -> tuple[str, str | None]:
    """Strip one paren-balanced ``HAVING(…)`` clause out of the tail."""
    m = _HAVING_OPEN.search(tail)
    if not m:
        return tail, None
    depth, j = 1, m.end()
    while j < len(tail) and depth:
        depth += {"(": 1, ")": -1}.get(tail[j], 0)
        j += 1
    if depth:
        raise ValueError(f"unbalanced HAVING parens in {tail!r}")
    return tail[: m.start()] + " " + tail[j:], tail[m.end(): j - 1]


def parse_query(query: str) -> ParsedQuery:
    m = _HEAD.match(query)
    if not m:
        raise ValueError(f"unparseable BGP query: {query!r}")
    select = _parse_select(m.group("vars"))
    brace = query.index("{", m.end() - 1)
    end = _balanced(query, brace)
    body, tail = query[brace + 1: end - 1], query[end:]
    tail, having = _extract_having(tail)
    t = _TAIL.match(tail)
    if not t:
        raise ValueError(f"unparseable query tail: {tail!r}")
    group_by = tuple(re.findall(r"\?(\w+)", t.group("groupby") or ""))
    order_by = tuple(
        (om.group("pv") or om.group("v"),
         (om.group("dir") or "").upper() == "DESC")
        for om in _ORD_ITEM.finditer(t.group("orderby") or "")
    )
    limit = t.group("limit") or t.group("limit2")
    offset = t.group("offset") or t.group("offset2")
    return ParsedQuery(
        select=tuple(select),
        distinct=bool(m.group("distinct")),
        groups=tuple(_parse_union(body)),
        group_by=group_by,
        order_by=order_by,
        limit=int(limit) if limit else None,
        offset=int(offset) if offset else None,
        having=having,
    )


def parse_bgp(query: str):
    """Legacy view: → (select_vars, distinct, [(s,p,o)], filters, limit).

    Only valid for the single-group conjunctive fragment; extended
    constructs (UNION/OPTIONAL/VALUES/aggregates/ORDER BY) raise — use
    :func:`parse_query` / :func:`bgp_query` for those.
    """
    q = parse_query(query)
    g0 = q.groups[0]
    if (len(q.groups) != 1 or g0.optionals or g0.values or g0.minus
            or g0.exists or g0.binds or g0.subselects or g0.graphs
            or q.group_by or q.order_by or q.offset is not None
            or q.having is not None
            or any(it.agg for it in q.select)):
        raise ValueError("extended query: use parse_query()")
    g = q.groups[0]
    return ([it.name for it in q.select], q.distinct, g.triples,
            g.filters, q.limit)


# FILTER boolean grammar: || over && over !/(…) over the comparison,
# regex, IN, BOUND, and string-function primaries. Parsed to a small AST
# at parse time (so bad filters fail fast), compiled to one Catalyst
# boolean Column at plan time.

_ATOM_SRC = r'(?:\?\w+|-?\d+(?:\.\d+)?|"(?:[^"\\]|\\.)*"|<[^<>\s]+>)'
# comparisons additionally accept LANG(?v) atoms (the language tag of the
# binding, "" for plain literals per SPARQL) and single-level function
# calls from the BIND expression library (STRLEN(?v), UCASE(?l), …) —
# single-level because a regex can't balance nested parens; nested calls
# belong in a BIND
_LANG_SRC = r"LANG\s*\(\s*\?\w+\s*\)"
_CALL_SRC = r'[A-Za-z]+\s*\((?:[^()"]|"(?:[^"\\]|\\.)*")*\)'
_CATOM_SRC = rf"(?:{_LANG_SRC}|{_CALL_SRC}|{_ATOM_SRC})"
_LANG_AT = re.compile(rf"^LANG\s*\(\s*\?(?P<v>\w+)\s*\)$", re.IGNORECASE)
_CMP_AT = re.compile(
    rf"(?P<l>{_CATOM_SRC})\s*(?P<op>=|!=|<=|>=|<|>)\s*(?P<r>{_CATOM_SRC})",
    re.IGNORECASE,
)
_RX_AT = re.compile(
    r'regex\s*\(\s*\?(?P<v>\w+)\s*,\s*"(?P<pat>(?:[^"\\]|\\.)*)"'
    r'\s*(?:,\s*"(?P<flags>[a-z]*)")?\s*\)',
    re.IGNORECASE,
)
_BOUND_AT = re.compile(r"BOUND\s*\(\s*\?(?P<v>\w+)\s*\)", re.IGNORECASE)
_SFN_AT = re.compile(
    r"(?P<fn>STRSTARTS|STRENDS|CONTAINS)"
    r'\s*\(\s*\?(?P<v>\w+)\s*,\s*"(?P<s>(?:[^"\\]|\\.)*)"\s*\)',
    re.IGNORECASE,
)
_IN_AT = re.compile(
    rf"\?(?P<v>\w+)\s+(?P<neg>NOT\s+)?IN\s*\("
    rf"\s*(?P<items>{_ATOM_SRC}(?:\s*,\s*{_ATOM_SRC})*)\s*\)",
    re.IGNORECASE,
)
_ATOM_ONLY = re.compile(_ATOM_SRC)


def _unquote(tok: str) -> str:
    return tok[1:-1].replace('\\"', '"').replace("\\\\", "\\")


class _FilterParser:
    """Recursive descent over one FILTER body → tuple AST."""

    def __init__(self, s: str):
        self.s, self.i = s, 0

    def _ws(self):
        while self.i < len(self.s) and self.s[self.i].isspace():
            self.i += 1

    def _lit(self, tok: str) -> bool:
        self._ws()
        if self.s.startswith(tok, self.i):
            self.i += len(tok)
            return True
        return False

    def parse(self):
        ast = self._or()
        self._ws()
        if self.i != len(self.s):
            raise ValueError(f"unsupported FILTER expression: {self.s!r}")
        return ast

    def _or(self):
        a = self._and()
        while self._lit("||"):
            a = ("or", a, self._and())
        return a

    def _and(self):
        a = self._unary()
        while self._lit("&&"):
            a = ("and", a, self._unary())
        return a

    def _unary(self):
        self._ws()
        if (self.s.startswith("!", self.i)
                and not self.s.startswith("!=", self.i)):
            self.i += 1
            return ("not", self._unary())
        return self._primary()

    def _primary(self):
        self._ws()
        for rx, mk in (
            (_RX_AT, lambda m: ("regex", m.group("v"), m.group("pat"),
                                m.group("flags") or "")),
            (_BOUND_AT, lambda m: ("bound", m.group("v"))),
            (_SFN_AT, lambda m: ("sfn", m.group("fn").upper(),
                                 m.group("v"), _unquote(f'"{m.group("s")}"'))),
            (_IN_AT, lambda m: ("in", m.group("v"), bool(m.group("neg")),
                                _ATOM_ONLY.findall(m.group("items")))),
            (_CMP_AT, lambda m: ("cmp", m.group("op"),
                                 m.group("l"), m.group("r"))),
        ):
            m = rx.match(self.s, self.i)
            if m:
                self.i = m.end()
                return mk(m)
        if self.s.startswith("(", self.i):
            self.i += 1
            a = self._or()
            if not self._lit(")"):
                raise ValueError(f"unbalanced parens in FILTER: {self.s!r}")
            return a
        raise ValueError(
            f"unsupported FILTER expression at {self.s[self.i:self.i+30]!r}"
        )


def _parse_filter_ast(expr: str):
    return _FilterParser(expr).parse()


def _collect_lang_vars(ast, out: set[str]) -> None:
    """Variables whose LANG(...) appears in a filter AST (they need the
    hidden ``<var>__lang`` column exported by their binding pattern)."""
    kind = ast[0]
    if kind in ("or", "and"):
        _collect_lang_vars(ast[1], out)
        _collect_lang_vars(ast[2], out)
    elif kind == "not":
        _collect_lang_vars(ast[1], out)
    elif kind == "cmp":
        for tok in (ast[2], ast[3]):
            m = _LANG_AT.match(tok)
            if m:
                out.add(m.group("v"))


_CALL_AT = re.compile(rf"{_CALL_SRC}$")
# expr functions whose result is numeric (so comparisons against them
# coerce the other side per SPARQL numeric order)
_NUMERIC_FNS = {"STRLEN", "ABS", "ROUND", "CEIL", "FLOOR"}


def _atom_col(tok: str, bound: set[str]):
    """Atom token → (kind, Column); kind ∈ var | num | str."""
    lm = _LANG_AT.match(tok)
    if lm:
        v = lm.group("v")
        if f"{v}__lang" not in bound:
            raise ValueError(
                f"LANG(?{v}) requires ?{v} bound in object position of a "
                f"triple pattern in the same group"
            )
        return ("str", F.coalesce(F.col(f"{v}__lang"), F.lit("")))
    if _CALL_AT.fullmatch(tok):
        ast = _parse_expr(tok)
        fn = ast[1] if ast[0] == "fn" else None
        kind = "num" if fn in _NUMERIC_FNS else "str"
        return (kind, _expr_col(ast, bound))
    if tok.startswith("?"):
        if tok[1:] not in bound:
            raise ValueError(f"FILTER var {tok} not bound")
        return ("var", F.col(tok[1:]))
    if _NUM.match(tok):
        return ("num", F.lit(float(tok) if "." in tok else int(tok)))
    if tok.startswith("<"):
        return ("str", F.lit(tok[1:-1]))
    return ("str", F.lit(_unquote(tok)))


def _ast_condition(ast, bound: set[str]):
    kind = ast[0]
    if kind == "or":
        return _ast_condition(ast[1], bound) | _ast_condition(ast[2], bound)
    if kind == "and":
        return _ast_condition(ast[1], bound) & _ast_condition(ast[2], bound)
    if kind == "not":
        return ~_ast_condition(ast[1], bound)
    if kind == "regex":
        _, v, pat, flags = ast
        if v not in bound:
            raise ValueError(f"FILTER var ?{v} not bound")
        return F.col(v).rlike(("(?i)" if "i" in flags else "") + pat)
    if kind == "bound":
        if ast[1] not in bound:
            raise ValueError(f"FILTER var ?{ast[1]} not bound")
        return F.col(ast[1]).isNotNull()
    if kind == "sfn":
        _, fn, v, s = ast
        if v not in bound:
            raise ValueError(f"FILTER var ?{v} not bound")
        c = F.col(v)
        return {"STRSTARTS": c.startswith, "STRENDS": c.endswith,
                "CONTAINS": c.contains}[fn](s)
    if kind == "in":
        _, v, neg, items = ast
        if v not in bound:
            raise ValueError(f"FILTER var ?{v} not bound")
        numeric = all(_NUM.match(t) for t in items)
        if numeric:
            cond = F.col(v).cast("double").isin(
                [float(t) for t in items])
        else:
            cond = F.col(v).isin(
                [t[1:-1] if t.startswith("<") else _unquote(t)
                 for t in items])
        return ~cond if neg else cond
    assert kind == "cmp", ast
    _, op, l, r = ast
    (lk, lc), (rk, rc) = _atom_col(l, bound), _atom_col(r, bound)
    if "num" in (lk, rk):  # SPARQL numeric order: coerce vars to double
        lc = lc.cast("double") if lk == "var" else lc
        rc = rc.cast("double") if rk == "var" else rc
    return {
        "=": lc == rc, "!=": lc != rc, "<": lc < rc,
        "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc,
    }[op]


def _filter_condition(expr: str, bound: set[str]):
    """One FILTER body → a Catalyst boolean Column over bound variables."""
    return _ast_condition(_parse_filter_ast(expr), bound)


# --- BIND expressions ------------------------------------------------------

# (min_args, max_args); None = unbounded. Longest names first so the
# alternation can't stop at a prefix (STRBEFORE vs STR).
_EXPR_FNS = {
    "CONCAT": (1, None), "COALESCE": (1, None),
    "SUBSTR": (2, 3), "REPLACE": (3, 3),
    "STRBEFORE": (2, 2), "STRAFTER": (2, 2),
    "STRLEN": (1, 1), "STR": (1, 1), "UCASE": (1, 1), "LCASE": (1, 1),
    "ABS": (1, 1), "ROUND": (1, 1), "CEIL": (1, 1), "FLOOR": (1, 1),
    "IF": (3, 3),
}
_FUNC_AT = re.compile(
    r"(?P<fn>CONCAT|COALESCE|SUBSTR|REPLACE|STRBEFORE|STRAFTER|STRLEN"
    r"|STR|UCASE|LCASE|ABS|ROUND|CEIL|FLOOR|IF)\s*\(",
    re.IGNORECASE,
)
_ARITH_AT = re.compile(
    rf"(?P<l>{_ATOM_SRC})\s*(?P<op>[+\-*/])\s*(?P<r>{_ATOM_SRC})$"
)


def _split_args(s: str) -> list[str]:
    """Split on top-level commas, respecting parens and quoted strings."""
    args, depth, inq, cur, i = [], 0, False, [], 0
    while i < len(s):
        ch = s[i]
        if inq:
            cur.append(ch)
            if ch == "\\" and i + 1 < len(s):
                cur.append(s[i + 1])
                i += 2
                continue
            if ch == '"':
                inq = False
        elif ch == '"':
            inq = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        args.append(tail)
    return args


def _parse_expr(expr: str):
    """BIND expression → tuple AST (validated at parse time)."""
    expr = expr.strip()
    m = _FUNC_AT.match(expr)
    if m:
        depth, j = 1, m.end()
        while j < len(expr) and depth:
            depth += {"(": 1, ")": -1}.get(expr[j], 0)
            j += 1
        if depth or expr[j:].strip():
            raise ValueError(f"unsupported BIND expression: {expr!r}")
        fn = m.group("fn").upper()
        args = _split_args(expr[m.end(): j - 1])
        lo, hi = _EXPR_FNS[fn]
        if len(args) < lo or (hi is not None and len(args) > hi):
            arity = str(lo) if hi == lo else f"{lo}..{hi or 'n'}"
            raise ValueError(
                f"{fn} takes {arity} argument(s), got {len(args)}: {expr!r}"
            )
        if fn == "IF":
            # the condition reuses the FILTER boolean grammar
            return ("if", _parse_filter_ast(args[0]),
                    _parse_expr(args[1]), _parse_expr(args[2]))
        parsed = [_parse_expr(a) for a in args]
        if fn in ("STRBEFORE", "STRAFTER"):
            sep = parsed[1]
            if sep[0] != "atom" or not sep[1].startswith('"'):
                raise ValueError(
                    f"{fn} separator must be a string literal: {expr!r}")
        return ("fn", fn, parsed)
    am = _ARITH_AT.fullmatch(expr)
    if am:
        return ("arith", am.group("op"), am.group("l"), am.group("r"))
    if _ATOM_ONLY.fullmatch(expr):
        return ("atom", expr)
    raise ValueError(f"unsupported BIND expression: {expr!r}")


def _expr_col(ast, bound: set[str]):
    kind = ast[0]
    if kind == "atom":
        return _atom_col(ast[1], bound)[1]
    if kind == "arith":
        _, op, l, r = ast
        (lk, lc), (rk, rc) = _atom_col(l, bound), _atom_col(r, bound)
        lc = lc.cast("double") if lk == "var" else lc
        rc = rc.cast("double") if rk == "var" else rc
        return {"+": lc + rc, "-": lc - rc,
                "*": lc * rc, "/": lc / rc}[op]
    if kind == "if":
        _, cond, then_a, else_a = ast
        return F.when(_ast_condition(cond, bound),
                      _expr_col(then_a, bound)) \
                .otherwise(_expr_col(else_a, bound))
    assert kind == "fn", ast
    _, fn, args = ast
    cols = [_expr_col(a, bound) for a in args]
    if fn == "CONCAT":
        return F.concat(*[c.cast("string") for c in cols])
    if fn == "COALESCE":
        return F.coalesce(*cols)
    if fn == "SUBSTR":  # SPARQL/SQL 1-based positions
        c = cols[0].cast("string")
        length = cols[2].cast("int") if len(cols) == 3 else F.length(c)
        return c.substr(cols[1].cast("int"), length)
    if fn == "REPLACE":  # regex replace, per the SPARQL fn:replace base
        return F.regexp_replace(cols[0].cast("string"), cols[1], cols[2])
    if fn in ("STRBEFORE", "STRAFTER"):
        sep = _unquote(args[1][1])  # literal, enforced at parse time
        c = cols[0].cast("string")
        pos = F.instr(c, sep)
        hit = (F.substring_index(c, sep, 1) if fn == "STRBEFORE"
               else c.substr(pos + len(sep), F.length(c)))
        return F.when(pos > 0, hit).otherwise(F.lit(""))  # "" on no match
    if fn in ("ABS", "ROUND", "CEIL", "FLOOR"):
        num = cols[0].cast("double")
        # ceil/floor back to double: the binding representation is
        # lexical, xsd:double in → double out (and the DuckDB oracle's
        # ceil/floor return DOUBLE)
        return {"ABS": lambda: F.abs(num),
                "ROUND": lambda: F.round(num, 0),
                "CEIL": lambda: F.ceil(num).cast("double"),
                "FLOOR": lambda: F.floor(num).cast("double")}[fn]()
    # STRLEN as long: xsd:integer, and the oracle's length() is BIGINT
    return {"STR": lambda c: c.cast("string"), "UCASE": F.upper,
            "LCASE": F.lower,
            "STRLEN": lambda c: F.length(c).cast("long")}[fn](cols[0])


def _bind_expr(expr: str, bound: set[str]):
    """One BIND expression body → a Catalyst Column over bound variables."""
    return _expr_col(_parse_expr(expr), bound)


# --- SPARQL 1.1 property-path algebra -------------------------------------
#
# alternative := sequence ( '|' sequence )*        (union)
# sequence    := step ( '/' step )*                (join through a mid var)
# step        := ( '^'? <uri> | '!' <uri> | !(<a>|<b>…) ) ('+'|'*'|'?')?
#                (inverse = swap src/dst; ! = negated property set, a
#                NOT-IN predicate on pred; + = reachability closure;
#                * = closure ∪ zero-length; ? = step ∪ zero-length)
#
# Zero-length semantics per the spec: ``?s <p>* ?o`` relates every graph
# term to itself, so '*' (and '?') union the identity relation over all
# subjects and objects — a distinct over the quads, itself a one-shuffle
# aggregation, NOT an all-pairs product.

_PATH_STEP = re.compile(
    r"(?P<neg>!)?(?P<inv>\^)?"
    r"(?:<(?P<uri>[^<>\s]+)>|\((?P<set>\^?<[^<>\s]+>(?:\|\^?<[^<>\s]+>)*)\))"
    r"(?P<quant>[+*?]|\{\d+(?:,\d*)?\})?"
)

# bounded-length quantifiers compose the step relation m times in the
# PLAN — a ceiling keeps a typo like {2,200} from building a 200-join tree
_MAX_BOUNDED_PATH = 32


def _split_path(expr: str, sep: str) -> list[str]:
    """Split on ``sep`` outside ``<…>`` and outside ``!(…)`` property
    sets (IRIs may contain '|' or '/'; sets contain '|')."""
    parts, ang, par, cur = [], 0, 0, []
    for ch in expr:
        ang += {"<": 1, ">": -1}.get(ch, 0)
        if ang == 0 and ch in "()":
            par += 1 if ch == "(" else -1
        if ch == sep and ang == 0 and par == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def _identity_pairs(quads: DataFrame, by_graph: bool = False) -> DataFrame:
    """The zero-length-path relation: every graph term related to itself
    (per named graph when ``by_graph`` — the GRAPH ?g scope evaluates
    each graph independently, so a term only self-relates in the graphs
    that mention it)."""
    gcols = ["graph"] if by_graph else []
    src = [F.col("context").alias("graph")] if by_graph else []
    if by_graph:
        # GRAPH ?g iterates NAMED graphs only — default-graph rows
        # (NULL context) never contribute nodes to a per-graph path
        quads = quads.filter(F.col("context").isNotNull())
    nodes = (
        quads.select(*src, F.col("subj").alias("n"))
        .unionByName(quads.select(*src, F.col("obj").alias("n")))
        .distinct()
    )
    return nodes.select(
        *gcols, F.col("n").alias("src"), F.col("n").alias("dst")
    )


def _bounded_path(
    quads: DataFrame, step: DataFrame, lo: int, hi: int | None, by_graph: bool
) -> DataFrame:
    """Paths of length ``lo..hi`` over one step relation (``hi=None`` =
    unbounded: ``p{n,} ≡ p^n followed by p*``). The Jena-style ``{n,m}``
    extension (dropped from the final SPARQL 1.1 spec but widely
    supported). Exact powers compose by equi-join; the whole ladder is
    one plan — no loops at runtime."""
    if hi is not None and hi < lo:
        raise ValueError(f"bad path quantifier bounds: {{{lo},{hi}}}")
    if max(lo, hi or 0) > _MAX_BOUNDED_PATH:
        raise ValueError(
            f"path quantifier bound exceeds {_MAX_BOUNDED_PATH}: "
            f"{{{lo},{hi if hi is not None else ''}}}"
        )
    gcols = ["graph"] if by_graph else []

    def compose(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.withColumnRenamed("dst", "_mid")
            .join(b.withColumnRenamed("src", "_mid"), gcols + ["_mid"])
            .select(*gcols, "src", "dst")
        )

    ident = _identity_pairs(quads, by_graph)
    cur = ident if lo == 0 else step
    for _ in range(max(lo - 1, 0)):
        cur = compose(cur, step)
    if hi is None:
        star = reachability(step, key="graph" if by_graph else None)
        star = star.unionByName(ident)
        return compose(cur, star).distinct()
    acc = cur
    for _ in range(hi - lo):
        cur = compose(cur, step)
        acc = acc.unionByName(cur)
    return acc.distinct()


def _path_pairs(
    quads: DataFrame, expr: str, by_graph: bool = False
) -> DataFrame:
    """Path expression → DataFrame of the (src, dst) pairs it relates —
    prefixed with the ``graph`` column when ``by_graph`` (GRAPH ?var
    scope: every stage of the algebra keys on the graph too)."""
    gcols = ["graph"] if by_graph else []

    alts = _split_path(expr, "|")
    if len(alts) > 1:
        out = _path_pairs(quads, alts[0], by_graph)
        for a in alts[1:]:
            out = out.unionByName(_path_pairs(quads, a, by_graph))
        return out

    seq = _split_path(expr, "/")
    if len(seq) > 1:
        out = _path_pairs(quads, seq[0], by_graph)
        for s in seq[1:]:
            nxt = _path_pairs(quads, s, by_graph)
            out = (
                out.withColumnRenamed("dst", "_mid")
                .join(nxt.withColumnRenamed("src", "_mid"), gcols + ["_mid"])
                .select(*gcols, "src", "dst")
            )
        return out

    m = _PATH_STEP.fullmatch(expr.strip())
    if not m:
        raise ValueError(f"unparseable path step: {expr!r}")
    if m.group("neg"):
        span = m.group("set") or f"<{m.group('uri')}>"
        if "^" in span:
            raise ValueError(
                f"inverse steps inside a negated property set are "
                f"unsupported: {expr!r}"
            )
        uris = re.findall(r"<([^<>\s]+)>", span)
        pairs = quads.filter(~F.col("pred").isin(uris))
    elif m.group("set") is not None:
        raise ValueError(f"property sets require negation (!): {expr!r}")
    else:
        pairs = quads.filter(F.col("pred") == m.group("uri"))
    gsrc = [F.col("context").alias("graph")] if by_graph else []
    if by_graph:
        # GRAPH ?g matches named graphs only (NULL context = default graph)
        pairs = pairs.filter(F.col("context").isNotNull())
    pairs = pairs.select(
        *gsrc, F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    if m.group("inv"):
        pairs = pairs.select(
            *gcols, F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    quant = m.group("quant")
    if quant and quant.startswith("{"):
        lo_s, comma, hi_s = quant[1:-1].partition(",")
        lo = int(lo_s)
        hi = int(hi_s) if hi_s else (lo if not comma else None)
        return _bounded_path(quads, pairs, lo, hi, by_graph)
    if quant in ("+", "*"):
        # per-graph closure when scoped: GRAPH ?g matches NAMED graphs
        # only, and the keyed closure drops the NULL default-graph key
        pairs = reachability(pairs, key="graph" if by_graph else None)
    if quant in ("*", "?"):
        pairs = pairs.unionByName(_identity_pairs(quads, by_graph)).distinct()
    return pairs


def _pattern_df(
    quads: DataFrame, s: Term, p: Term, o: Term,
    lang_vars: frozenset = frozenset(),
    graph_var: str | None = None,
) -> DataFrame:
    """One triple pattern → DataFrame whose columns are its variables.

    An object variable named in ``lang_vars`` additionally exports the
    hidden ``<var>__lang`` column (consumed by LANG() filters, dropped
    at group exit). Path-produced pairs carry NULL lang (the binding
    representation is lexical), which LANG() renders as "". With
    ``graph_var`` set (GRAPH ?g blocks), the quads' ``context`` column is
    exported as that variable, so every pattern in the block equi-joins
    on the graph binding — the SPARQL per-named-graph evaluation, with
    no per-graph loop."""
    if p.kind in ("path", "pathx"):
        expr = f"<{p.value}>+" if p.kind == "path" else p.value
        if graph_var is not None:
            # GRAPH ?g scope: the whole path algebra (joins, closures,
            # zero-length identity) keys on the graph column, so each
            # named graph evaluates independently — no per-graph loop
            if "context" not in quads.columns:
                raise ValueError(
                    "GRAPH requires a 'context' column on the quads"
                )
            base = _path_pairs(quads, expr, by_graph=True).select(
                F.col("graph").alias("_g"),
                F.col("src").alias("_s"),
                F.col("dst").alias("_o"),
                F.lit(None).cast("string").alias("_lang"),
            )
            bind = {"_g": Term("var", graph_var), "_s": s, "_o": o}
        else:
            base = _path_pairs(quads, expr).select(
                F.col("src").alias("_s"),
                F.col("dst").alias("_o"),
                F.lit(None).cast("string").alias("_lang"),
            )
            bind = {"_s": s, "_o": o}
    else:
        cols = [
            F.col("subj").alias("_s"),
            F.col("pred").alias("_p"),
            F.col("obj").alias("_o"),
            F.col("lang").alias("_lang"),
        ]
        if graph_var is not None:
            if "context" not in quads.columns:
                raise ValueError(
                    "GRAPH requires a 'context' column on the quads"
                )
            cols.append(F.col("context").alias("_g"))
            # GRAPH ?g iterates NAMED graphs: default-graph rows (NULL
            # context) never bind ?g
            quads = quads.filter(F.col("context").isNotNull())
        base = quads.select(*cols)
        bind = {"_s": s, "_p": p, "_o": o}
        if graph_var is not None:
            bind["_g"] = Term("var", graph_var)

    rename: dict[str, str] = {}
    for col, term in bind.items():
        if term.kind == "var":
            if term.value in rename.values():  # repeated var inside one pattern
                prev = next(c for c, v in rename.items() if v == term.value)
                base = base.filter(F.col(col) == F.col(prev))
            else:
                rename[col] = term.value
        else:
            base = base.filter(F.col(col) == term.value)
            if term.kind == "lit" and term.lang is not None:
                base = base.filter(F.col("_lang") == term.lang)
    cols = [F.col(c).alias(v) for c, v in rename.items()]
    if o.kind == "var" and o.value in lang_vars:
        cols.append(F.col("_lang").alias(f"{o.value}__lang"))
    return base.select(*cols)


def _compile_group(
    quads: DataFrame, g: Group, graph_var: str | None = None
) -> DataFrame:
    """One group pattern → DataFrame of its variable bindings.

    Join order is chosen greedily by a selectivity proxy — patterns with
    more constant terms first, then always a pattern sharing a variable
    with what's already joined (classic BGP ordering, e.g. Stocker et
    al., "SPARQL basic graph pattern optimization", WWW'08) — so a query
    written in an unfortunate order never cross-joins when a connected
    order exists. AQE still re-plans join strategies from runtime sizes.
    """
    lang_vars: set[str] = set()
    for f in g.filters:
        _collect_lang_vars(_parse_filter_ast(f), lang_vars)

    relations: list[tuple[int, DataFrame]] = []  # (selectivity score, df)
    for s, p, o in g.triples:
        score = sum(t.kind in ("uri", "lit") for t in (s, p, o))
        relations.append(
            (score,
             _pattern_df(quads, s, p, o, frozenset(lang_vars), graph_var))
        )
    for gterm, inner in g.graphs:
        if graph_var is not None:
            raise ValueError("nested GRAPH blocks are unsupported")
        if gterm.kind == "uri":
            # constant graph: a context equi-filter pushed below the
            # block's whole join tree (partition-prunable when the store
            # is laid out by graph)
            if "context" not in quads.columns:
                raise ValueError(
                    "GRAPH requires a 'context' column on the quads"
                )
            rel = _compile_group(
                quads.filter(F.col("context") == gterm.value), inner
            )
            relations.append((2, rel))
        else:
            if (inner.optionals or inner.minus or inner.exists
                    or inner.subselects or inner.graphs):
                raise ValueError(
                    "GRAPH ?var supports triple patterns, FILTER, BIND "
                    "and VALUES in its block (no nested group algebra)"
                )
            relations.append(
                (1, _compile_group(quads, inner, graph_var=gterm.value))
            )
    for var, terms in g.values:
        inline = local_frame(
            quads.sparkSession, [(t.value,) for t in terms], f"{var} string"
        ).distinct()
        relations.append((3, F.broadcast(inline)))  # inline = maximally selective
    for pq in g.subselects:
        # SPARQL sub-SELECT: evaluated bottom-up, independently of the
        # enclosing group; only its projected variables are visible.
        # Joined on shared vars; a 0-shared-var scalar aggregate (the
        # common "compare against a global MAX/COUNT" idiom) cross-joins
        # its 1-row result — a broadcast, not a blow-up.
        relations.append((1, _compile_parsed(quads, pq)))
    assert relations  # parse guarantees triples, values, or a subselect

    order = sorted(range(len(relations)), key=lambda i: -relations[i][0])
    first = order.pop(0)
    result = relations[first][1]
    while order:
        nxt = next(
            (i for i in order
             if any(c in result.columns for c in relations[i][1].columns)),
            order[0],  # disconnected component: cross join is unavoidable
        )
        order.remove(nxt)
        df = relations[nxt][1]
        shared = [c for c in df.columns if c in result.columns]
        dup_lang = [c for c in shared if c.endswith("__lang")]
        if dup_lang:
            raise ValueError(
                f"LANG() over a variable bound in object position by more "
                f"than one pattern is ambiguous: {dup_lang}"
            )
        result = result.join(df, shared) if shared else result.crossJoin(df)
    # BINDs whose variables are all bound by the required patterns apply
    # now (so the group's FILTERs and joins can use them); a BIND
    # referencing a variable only an OPTIONAL provides (the COALESCE-over-
    # left-join idiom) is deferred until after the OPTIONAL joins.
    deferred_binds: list[tuple[str, str]] = []
    for var, expr in g.binds:
        if var in result.columns:
            raise ValueError(f"BIND would rebind ?{var}")
        try:
            result = result.withColumn(
                var, _bind_expr(expr, set(result.columns)))
        except ValueError:
            deferred_binds.append((var, expr))
    for opt in g.optionals:
        odf = _compile_group(quads, opt)
        shared = [c for c in odf.columns if c in result.columns]
        if not shared:
            raise ValueError(
                "OPTIONAL group shares no variable with the required pattern"
            )
        result = result.join(odf, shared, "left")
    for var, expr in deferred_binds:
        if var in result.columns:
            raise ValueError(f"BIND would rebind ?{var}")
        result = result.withColumn(var, _bind_expr(expr, set(result.columns)))
    # FILTER applies to the whole group result (after OPTIONAL joins), so
    # BOUND/!BOUND can test optionally-bound variables; Catalyst still
    # pushes null-safe predicates below the joins where legal.
    bound = set(result.columns)
    for f in g.filters:
        result = result.filter(_filter_condition(f, bound))
    for mg in g.minus:
        mdf = _compile_group(quads, mg)
        shared = [c for c in mdf.columns if c in result.columns]
        # a MINUS group sharing no variable removes nothing (SPARQL algebra:
        # disjoint-domain solutions are not compatible)
        if shared:
            result = result.join(mdf.select(*shared), shared, "left_anti")
    for positive, eg in g.exists:
        edf = _compile_group(quads, eg)
        shared = [c for c in edf.columns if c in result.columns]
        if not shared:
            raise ValueError(
                "FILTER [NOT] EXISTS group shares no variable with the "
                "enclosing pattern (correlated-free EXISTS is unsupported)"
            )
        result = result.join(
            edf.select(*shared), shared, "left_semi" if positive else "left_anti"
        )
    hidden = [c for c in result.columns if c.endswith("__lang")]
    return result.drop(*hidden) if hidden else result


_AGG_FN = {
    "count": lambda c, d: (F.countDistinct(c) if d else F.count(c))
    if c is not None else F.count(F.lit(1)),
    "sum": lambda c, d: (F.sum_distinct if d else F.sum)(c.cast("double")),
    # AVG(DISTINCT ?x) = sum over the distinct values / their count
    # (Spark has no avg_distinct; DISTINCT was previously silently
    # ignored — code-review r5 wave-2 #5)
    # numerator and denominator must share ONE value domain (ADVICE r5
    # #2): dividing by countDistinct over the RAW column double-counted
    # distinct lexical forms that are numerically equal ('1' vs '1.0')
    "avg": lambda c, d: (
        F.sum_distinct(c.cast("double")) / F.countDistinct(c.cast("double"))
        if d else F.avg(c.cast("double"))
    ),
    # DISTINCT is a no-op for MIN/MAX/SAMPLE (same extremum either way)
    "min": lambda c, d: F.min(c),
    "max": lambda c, d: F.max(c),
    # SAMPLE may return any value of the group; MIN is a deterministic
    # (and therefore testable) choice the spec permits.
    "sample": lambda c, d: F.min(c),
}


def _agg_col(it: SelItem, all_cols: list[str] | None = None):
    c = F.col(it.arg) if it.arg else None
    if it.agg == "group_concat":
        # deterministic rendering: SPARQL leaves group order undefined, so
        # sort the collected values (DuckDB mirror: string_agg … ORDER BY)
        vals = F.collect_set(c) if it.distinct else F.collect_list(c)
        return F.array_join(
            F.sort_array(vals), it.sep if it.sep is not None else " "
        ).alias(it.name)
    if it.agg == "count" and c is None and it.distinct:
        # COUNT(DISTINCT *) counts DISTINCT SOLUTIONS (SPARQL 1.1
        # §18.5.1.2) — previously the distinct flag was silently dropped
        # (code-review r5 wave-2 #5)
        if not all_cols:
            raise ValueError("COUNT(DISTINCT *) over a zero-column group")
        return F.countDistinct(
            F.struct(*[F.col(x) for x in all_cols])
        ).alias(it.name)
    return _AGG_FN[it.agg](c, it.distinct).alias(it.name)


def bgp_query(quads: DataFrame, query: str) -> DataFrame:
    """Answer a SPARQL query over a quads DataFrame (subj/pred/obj/lang).

    Join order is chosen by the compiler (most-constant patterns first,
    connected-next; see :func:`_compile_group`); AQE re-plans join
    strategies from runtime sizes. Patterns forming disconnected
    variable components cross-join — legal SPARQL, visible in the plan.
    """
    return _compile_parsed(quads, parse_query(query))


def _compile_parsed(quads: DataFrame, q: ParsedQuery) -> DataFrame:
    """A ParsedQuery (top-level or sub-SELECT) → its result DataFrame."""
    branches = [_compile_group(quads, g) for g in q.groups]
    result = branches[0]
    for b in branches[1:]:
        result = result.unionByName(b, allowMissingColumns=True)

    plain = [it for it in q.select if it.agg is None]
    aggs = [it for it in q.select if it.agg is not None]
    missing = [v for v in
               [it.name for it in plain]
               + [it.arg for it in aggs if it.arg]
               + list(q.group_by)
               if v not in result.columns]
    if missing:
        raise ValueError(f"SELECT vars not bound by any pattern: {missing}")

    if q.having and not (aggs or q.group_by):
        raise ValueError("HAVING requires aggregation (GROUP BY or an "
                         "aggregate in SELECT)")
    if aggs or q.group_by:
        keys = list(q.group_by) or [it.name for it in plain]
        stray = [it.name for it in plain if it.name not in keys]
        if stray:
            raise ValueError(f"non-grouped SELECT vars {stray} need GROUP BY")
        agg_cols = [_agg_col(it, result.columns) for it in aggs]
        # HAVING: aggregate calls inside the condition become internal
        # agg columns (?__hN), computed in the same groupBy — one
        # aggregation, filtered after (map-side partials included); the
        # condition may also reference SELECT aliases directly.
        having_items: list[SelItem] = []
        having = q.having
        if having:
            counter = iter(range(64))

            def _h_sub(m):
                name = f"__h{next(counter)}"
                having_items.append(SelItem(
                    name, agg=m.group("agg").lower(), arg=m.group("arg"),
                    distinct=bool(m.group("dist")),
                ))
                return f"?{name}"

            having = _HAGG.sub(_h_sub, having)
        agg_cols += [_agg_col(it, result.columns) for it in having_items]
        result = (result.groupBy(*keys).agg(*agg_cols) if keys
                  else result.agg(*agg_cols))
        if having:
            result = result.filter(
                _filter_condition(having, set(result.columns))
            )

    out = result.select(*[it.name for it in q.select])
    if q.distinct:
        out = out.distinct()
    if q.order_by:
        bad = [v for v, _ in q.order_by if v not in out.columns]
        if bad:
            raise ValueError(f"ORDER BY vars not in SELECT: {bad}")
        out = out.orderBy(
            *[F.col(v).desc() if desc else F.col(v).asc()
              for v, desc in q.order_by]
        )
    if q.offset:
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


# ---------------------------------------------------------------------------
# CONSTRUCT and ASK query forms
# ---------------------------------------------------------------------------

_CONSTRUCT_HEAD = re.compile(r"^\s*CONSTRUCT\s*(?=\{)", re.IGNORECASE)
_ASK_HEAD = re.compile(r"^\s*ASK\s*(?:WHERE\s*)?(?=\{)", re.IGNORECASE)
_WHERE_KW = re.compile(r"\s*WHERE\s*(?=\{)", re.IGNORECASE)


def _parse_where_tail(query: str, pos: int):
    """``{ body } [LIMIT n]`` at ``pos`` → (groups, limit)."""
    end = _balanced(query, query.index("{", pos))
    tail = query[end:]
    t = re.match(r"^\s*(?:LIMIT\s+(?P<limit>\d+))?\s*$", tail, re.IGNORECASE)
    if not t:
        raise ValueError(f"unparseable query tail: {tail!r}")
    groups = _parse_union(query[query.index("{", pos) + 1: end - 1])
    return groups, (int(t.group("limit")) if t.group("limit") else None)


def construct_query(quads: DataFrame, query: str) -> DataFrame:
    """``CONSTRUCT { tp+ } WHERE { … } [LIMIT n]`` → new triples.

    The WHERE part accepts everything :func:`bgp_query` does in its body
    (joins, paths, FILTER, OPTIONAL, UNION, VALUES). Each template triple
    is instantiated once per solution; instantiations with an unbound
    (NULL) variable are skipped per the SPARQL spec, and the result is a
    distinct graph (set semantics). Returns ``subj/pred/obj/lang``
    columns composable with :func:`bgp_query` and the RDF sinks; a
    variable in object position carries no language tag (the binding
    representation is lexical), so ``lang`` is non-NULL only for
    constant ``"lit"@lang`` template objects.
    """
    m = _CONSTRUCT_HEAD.match(query)
    if not m:
        raise ValueError(f"not a CONSTRUCT query: {query!r}")
    tpl_start = query.index("{", m.end())
    tpl_end = _balanced(query, tpl_start)
    template = _parse_triples(query[tpl_start + 1: tpl_end - 1])
    if not template:
        raise ValueError("empty CONSTRUCT template")
    w = _WHERE_KW.match(query, tpl_end)
    if not w:
        raise ValueError("CONSTRUCT needs a WHERE block")
    groups, limit = _parse_where_tail(query, w.end())

    bindings = _compile_group(quads, groups[0])
    for g in groups[1:]:
        bindings = bindings.unionByName(
            _compile_group(quads, g), allowMissingColumns=True
        )
    if limit is not None:
        bindings = bindings.limit(limit)

    return _instantiate(bindings, template)


def _instantiate(bindings: DataFrame, template) -> DataFrame:
    """Instantiate template triples once per solution → distinct quads.

    Instantiations with an unbound (NULL) variable are skipped per the
    SPARQL spec. A variable in object position carries no language tag
    (the binding representation is lexical), so ``lang`` is non-NULL only
    for constant ``"lit"@lang`` template objects.
    """
    def term_col(t: Term):
        if t.kind == "var":
            return F.col(t.value)
        return F.lit(t.value)

    parts = []
    for s, p, o in template:
        used = [t.value for t in (s, p, o) if t.kind == "var"]
        row = bindings
        for v in used:
            if v not in bindings.columns:
                raise ValueError(f"template var ?{v} not bound in WHERE")
            row = row.filter(F.col(v).isNotNull())
        parts.append(row.select(
            term_col(s).alias("subj"),
            term_col(p).alias("pred"),
            term_col(o).alias("obj"),
            (F.lit(o.lang) if o.kind == "lit" and o.lang is not None
             else F.lit(None)).cast("string").alias("lang"),
        ))
    out = parts[0]
    for p_df in parts[1:]:
        out = out.unionByName(p_df)
    return out.distinct()


_FORM = re.compile(r"\s*(?P<form>SELECT|CONSTRUCT|ASK|DESCRIBE)\b",
                   re.IGNORECASE)


def sparql(quads: DataFrame, query: str) -> DataFrame:
    """Answer any supported SPARQL query form over a quads DataFrame.

    Dispatches on the leading keyword: SELECT → :func:`bgp_query`,
    CONSTRUCT → :func:`construct_query`, ASK → :func:`ask_query`,
    DESCRIBE → :func:`describe_query`.
    """
    m = _FORM.match(query)
    if not m:
        raise ValueError(f"unrecognized SPARQL query form: {query[:40]!r}")
    return {
        "select": bgp_query,
        "construct": construct_query,
        "ask": ask_query,
        "describe": describe_query,
    }[m.group("form").lower()](quads, query)


_DESCRIBE_HEAD = re.compile(
    r"^\s*DESCRIBE\s+(?P<terms>(?:(?:<[^<>\s]+>|\?\w+)\s*)+)"
    r"(?P<where>WHERE\s*(?=\{))?",
    re.IGNORECASE,
)


def describe_query(quads: DataFrame, query: str) -> DataFrame:
    """``DESCRIBE (<uri>|?v)+ [WHERE { … }]`` → the resources' triples.

    DESCRIBE's result form is implementation-defined (SPARQL 1.1 §16.4);
    this engine returns the subject-oriented description — every quad
    whose subject is a described resource — the lexical equivalent of a
    Concise Bounded Description in a store without blank nodes. With a
    WHERE block, each listed variable's bindings are described; without
    one, the listed constant IRIs are. Compiles to one semi-style
    equi-join of the quads against the (deduplicated) resource set —
    broadcast by Catalyst/AQE when small — never a per-resource loop.
    """
    m = _DESCRIBE_HEAD.match(query)
    if not m:
        raise ValueError(f"not a DESCRIBE query: {query!r}")
    toks = m.group("terms").split()
    uris = [t[1:-1] for t in toks if t.startswith("<")]
    dvars = [t[1:] for t in toks if t.startswith("?")]

    spark = quads.sparkSession
    parts: list[DataFrame] = []
    if uris:
        parts.append(local_frame(spark, [(u,) for u in uris], "r string"))
    if m.group("where"):
        groups, limit = _parse_where_tail(query, m.end())
        if limit is not None:
            raise ValueError("LIMIT is unsupported on DESCRIBE")
        bindings = _compile_group(quads, groups[0])
        for g in groups[1:]:
            bindings = bindings.unionByName(
                _compile_group(quads, g), allowMissingColumns=True
            )
        if not dvars:
            raise ValueError("DESCRIBE … WHERE needs at least one ?var")
        for v in dvars:
            if v not in bindings.columns:
                raise ValueError(f"DESCRIBE var ?{v} not bound in WHERE")
            parts.append(
                bindings.select(F.col(v).alias("r")).filter(F.col("r").isNotNull())
            )
    elif dvars:
        raise ValueError("DESCRIBE ?var requires a WHERE block")

    resources = parts[0]
    for p in parts[1:]:
        resources = resources.unionByName(p)
    return quads.join(
        resources.distinct(), quads["subj"] == F.col("r"), "left_semi"
    ).select("subj", "pred", "obj", "lang").distinct()


def ask_query(quads: DataFrame, query: str) -> DataFrame:
    """``ASK [WHERE] { … }`` → a 1-row DataFrame with boolean ``ask``.

    Compiles the body like :func:`bgp_query` and reduces to "does any
    solution exist"; a LIMIT-1 guard above the aggregation lets Spark
    stop scanning at the first match.
    """
    m = _ASK_HEAD.match(query)
    if not m:
        raise ValueError(f"not an ASK query: {query!r}")
    groups, limit = _parse_where_tail(query, m.end())
    if limit is not None:
        raise ValueError("LIMIT is meaningless on ASK")
    result = _compile_group(quads, groups[0])
    for g in groups[1:]:
        result = result.unionByName(
            _compile_group(quads, g), allowMissingColumns=True
        )
    return result.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))


# ---------------------------------------------------------------------------
# SPARQL 1.1 UPDATE forms — functional: each returns the NEW quads
# DataFrame (the input is never mutated; persist it with the sinks).
#
# INSERT DATA { const-triples }           → anti-join the constants
#   against the store (set semantics for the inserted rows — re-running
#   the update is a no-op) then union.
# DELETE DATA { const-triples }           → null-safe anti-join.
# DELETE WHERE { pattern }                → the pattern is its own
#   template (the spec's shorthand).
# DELETE { tpl } INSERT { tpl } WHERE { g } (either template optional)
#   → compile the WHERE bindings ONCE; instantiate both templates from
#   them (the spec's order: both evaluated against the pre-update
#   store); apply delete as an anti-join, then insert.
#
# Deletes compare lang null-safely (constant triples without @lang match
# only untagged quads, matching the module's lexical representation).
# Scale shape: every step is an equi-join or union on (subj,pred,obj)
# — the delta side is usually tiny and broadcast by AQE; no collect.
# ---------------------------------------------------------------------------

_INSERT_DATA_HEAD = re.compile(r"^\s*INSERT\s+DATA\s*(?=\{)", re.IGNORECASE)
_DELETE_DATA_HEAD = re.compile(r"^\s*DELETE\s+DATA\s*(?=\{)", re.IGNORECASE)
_DELETE_WHERE_HEAD = re.compile(r"^\s*DELETE\s+WHERE\s*(?=\{)", re.IGNORECASE)
_DELETE_HEAD = re.compile(r"^\s*DELETE\s*(?=\{)", re.IGNORECASE)
_INSERT_KW = re.compile(r"\s*INSERT\s*(?=\{)", re.IGNORECASE)


def _const_quads(spark, triples) -> DataFrame:
    rows = []
    for s, p, o in triples:
        if any(t.kind == "var" for t in (s, p, o)):
            raise ValueError("INSERT/DELETE DATA allows no variables")
        rows.append((s.value, p.value, o.value,
                     o.lang if o.kind == "lit" else None))
    return local_frame(
        spark, rows, "subj string, pred string, obj string, lang string"
    ).distinct()


def _remove(quads: DataFrame, gone: DataFrame) -> DataFrame:
    g = gone.select(
        F.col("subj").alias("_ds"), F.col("pred").alias("_dp"),
        F.col("obj").alias("_do"), F.col("lang").alias("_dl"),
    )
    return quads.join(
        g,
        (quads["subj"] == g["_ds"]) & (quads["pred"] == g["_dp"])
        & (quads["obj"] == g["_do"]) & quads["lang"].eqNullSafe(g["_dl"]),
        "left_anti",
    )


def _remove_template(quads: DataFrame, bindings: DataFrame,
                     template) -> DataFrame:
    """Delete the quads a DELETE template matches, one anti-join per
    template triple.

    The binding representation is lexical, so a VARIABLE in object
    position deletes every language variant of the bound lexical form
    (it is the form the WHERE pattern matched); a constant literal
    respects its explicit @lang null-safely (no @lang → untagged only).
    """
    out = quads
    for s, p, o in template:
        inst = _instantiate(bindings, [(s, p, o)]).select(
            F.col("subj").alias("_ds"), F.col("pred").alias("_dp"),
            F.col("obj").alias("_do"),
        )
        cond = ((out["subj"] == inst["_ds"]) & (out["pred"] == inst["_dp"])
                & (out["obj"] == inst["_do"]))
        if o.kind == "lit":
            cond = cond & out["lang"].eqNullSafe(F.lit(o.lang))
        out = out.join(inst, cond, "left_anti")
    return out


def _add(quads: DataFrame, new: DataFrame) -> DataFrame:
    new = new.select("subj", "pred", "obj", "lang")
    g = quads.select(
        F.col("subj").alias("_ds"), F.col("pred").alias("_dp"),
        F.col("obj").alias("_do"), F.col("lang").alias("_dl"),
    )
    fresh = new.join(
        g,
        (new["subj"] == g["_ds"]) & (new["pred"] == g["_dp"])
        & (new["obj"] == g["_do"]) & new["lang"].eqNullSafe(g["_dl"]),
        "left_anti",
    )
    # preserve the STORE's schema: the DELETE forms are anti-joins that
    # keep every column, and narrowing here to 4 columns broke GRAPH
    # blocks ('context' gone) and the materialize writers ('dataset'
    # gone) after an INSERT (code-review r5 wave-2 #6). Inserted rows
    # take NULL for columns the template cannot express, typed from the
    # store schema.
    extra = [f for f in quads.schema.fields
             if f.name not in ("subj", "pred", "obj", "lang")]
    fresh = fresh.select(
        "subj", "pred", "obj", "lang",
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in extra],
    )
    return quads.unionByName(fresh)


def _template_block(query: str, pos: int):
    start = query.index("{", pos)
    end = _balanced(query, start)
    return _parse_triples(query[start + 1: end - 1]), end


def sparql_update(quads: DataFrame, update: str) -> DataFrame:
    """Apply one SPARQL UPDATE operation; return the updated quads."""
    m = _INSERT_DATA_HEAD.match(update) or _DELETE_DATA_HEAD.match(update)
    if m:
        triples, end = _template_block(update, m.end())
        if update[end:].strip():
            raise ValueError(f"trailing content after DATA block: "
                             f"{update[end:].strip()[:30]!r}")
        delta = _const_quads(quads.sparkSession, triples)
        if _INSERT_DATA_HEAD.match(update):
            return _add(quads, delta)
        return _remove(quads, delta)

    m = _DELETE_WHERE_HEAD.match(update)
    if m:
        groups, limit = _parse_where_tail(update, m.end())
        if limit is not None:
            raise ValueError("LIMIT is unsupported on DELETE WHERE")
        out = quads
        for g in groups:
            out = _remove_template(out, _compile_group(quads, g), g.triples)
        return out

    m = _DELETE_HEAD.match(update)
    ins_tpl = None
    if m:
        del_tpl, pos = _template_block(update, m.end())
        im = _INSERT_KW.match(update, pos)
        if im:
            ins_tpl, pos = _template_block(update, im.end())
    else:
        im = _INSERT_KW.match(update)
        if not im:
            raise ValueError(f"unrecognized SPARQL update form: "
                             f"{update[:40]!r}")
        del_tpl = None
        ins_tpl, pos = _template_block(update, im.end())
    w = _WHERE_KW.match(update, pos)
    if not w:
        raise ValueError("DELETE/INSERT needs a WHERE block")
    groups, limit = _parse_where_tail(update, w.end())
    if limit is not None:
        raise ValueError("LIMIT is unsupported on DELETE/INSERT")
    bindings = _compile_group(quads, groups[0])
    for g in groups[1:]:
        bindings = bindings.unionByName(
            _compile_group(quads, g), allowMissingColumns=True
        )
    # both templates instantiate against the PRE-update bindings (spec
    # evaluation order), then delete applies before insert
    new = _instantiate(bindings, ins_tpl) if ins_tpl else None
    out = quads
    if del_tpl:
        out = _remove_template(out, bindings, del_tpl)
    if new is not None:
        out = _add(out, new)
    return out
