"""Datalog-lite → DataFrame compiler (SURVEY.md §3.4, §4 custom piece 4).

Covers the query surface the reference actually exercises
(examples/explore_db.clj:13-45; cognitect/xform/batch.clj:50-53):

  - triple patterns [e a v] with variables ('?x'), constants, or
    wildcards ('_') in any position; over a HISTORY view (a datoms
    frame with tx/added columns, history.log_datoms) patterns extend to
    [e a v tx] / [e a v tx op], binding the transaction and the
    assert/retract flag exactly like Datomic history-db queries;
  - implicit equi-joins on shared variables (J4 — the self-join of the
    EAV view on `e`);
  - predicate clauses [(op ?v x)] — the EDN vector-wrapping-a-list shape
    `[(> ?v 5)]` mirrors to a 1-element list holding an (op, lhs, rhs)
    tuple, e.g. [(">", "?v", 5)]. Ops: > >= < <= = == != not=. Operands
    are bound vars, constants, or :in params; compiled to a `.where` on
    the accumulated plan (so, as in Datomic, a predicate must appear
    after the patterns that bind its vars);
  - named rules (the :in % analog): definitions in query["rules"] as
    [[(name ?a ?b), clause...], ...], invoked in :where as
    [(name term term)]. Multiple defs of a name UNION (Datomic OR
    semantics); each def compiles to a distinct subplan projected onto
    the head vars (with numeric projections carried across the rule
    boundary);
  - recursive rules (Datomic graph-walk rules, e.g. ancestor, and
    mutual recursion such as the even/odd pattern) via one stratified
    semi-naive fixpoint over the rule's strongly-connected clique
    (_compile_clique; direct recursion is a clique of one): base
    (non-recursive) defs seed the relations; each iteration re-derives
    the recursive defs against only the PREVIOUS iteration's delta
    (defs with several recursive calls fall back to naive
    whole-relation substitution — still correct, just re-derives
    more), anti-joins out known tuples, and stops when every delta is
    empty. Every iteration localCheckpoints to cut lineage (on a
    cluster you'd point this at a checkpoint dir); the iteration count
    is bounded by MAX_FIXPOINT_ITERS (the depth of the data graph in
    practice — ~log2(N) for trees). Recursion through (not ...) is
    rejected as non-stratified, not mis-answered;
  - (not clause+) negation — [("not", [e a v], ...)]: bindings
    satisfying the inner clauses are subtracted via a left-anti join on
    the variables shared with the outer plan (Datomic unification;
    inner-only vars are existential; zero shared vars is rejected);
  - (or leg+) disjunction — [("or", [e a v], ("and", [..], [..]))]:
    every leg must bind the same variable set; legs union into one
    relation (an anonymous inline rule) that joins the outer plan.
    "not"/"or"/"and" are reserved words, not usable as rule names;
  - function-binding clauses [(fn arg...) ?out] — arithmetic
    (+ - * / quot mod abs, via the numeric v_num projection), (str ...)
    concatenation, (ground const), (tuple x+) vector packing with
    [(untuple ?t) [?a ?b]] destructuring, and
    (get-else ?e :attr default) which left-joins the attribute and
    falls back to the default where the entity has no datom (EAV nulls
    are ABSENT datoms, eav.py:16-17);
  - (get-some $ ?e :attr+) first-present accessor — single-var output
    binds the winning value, [?a ?v] destructuring binds the winning
    attribute and value; rows where every attribute is absent drop
    (Datomic nil-fails-the-clause). One [attr value] per entity even
    for cardinality-many attributes (deterministically the min v);
  - (fulltext $ :attr "search") [[?e ?v]] — token-match scan of a
    :db/fulltext attribute's datoms; multi-term searches use Lucene's
    default OR (any term matches), mirroring the reference's
    Lucene-backed fulltext. The search string may be an :in param;
  - (missing? ?e :attr) predicate — anti-join on entities that lack the
    attribute;
  - :find with plain variables and/or aggregates (count, count-distinct,
    sum, min, max, avg, median, variance, stddev, distinct; bounded
    (min n ?x)/(max n ?x)/(sample n ?x) — sample is a deterministic
    md5-ordered subset, see the inline note) — grouped by
    the plain vars. Aggregation follows Datomic SET semantics: the bound
    relation is deduplicated over the find variables (plus :with
    variables) BEFORE aggregating, so `[:find ?x (sum ?v)]` sums each
    distinct (x, v) pair once; add `"with": ["?e"]` to keep per-entity
    duplicates, exactly like Datomic's :with clause;
  - :in bindings in all four Datomic shapes — scalar `"?x"`,
    collection `["?x", "..."]`, tuple `["?a", "?b"]`, and relation
    `[["?a", "?b"]]`. Scalars substitute as constants (best pushdown);
    the other three become small broadcast relations cross-seeded into
    the plan, joined wherever their vars appear (Datomic input-relation
    semantics; inputs are treated as sets);
  - multiple database inputs — :in markers "$2", "$3", ... each bound
    to a datoms DataFrame param; patterns prefixed with the marker
    (["$2", e, a, v]) scan that db instead of the primary (the Datomic
    as-of-vs-current cross-db join idiom), including inside rule
    bodies, (not ...) and (or ...) sub-plans;
  - :limit (the reference's `:limit -1` = no limit) and :offset (the
    client API's paging knob; pages are pinned to lexicographic order
    over the output columns — Datomic leaves the order unspecified, a
    distributed engine must fix one to be reproducible).

Compilation: each pattern becomes an aliased, pre-filtered scan of the
datoms view; shared variables induce join conditions; the result is one
declarative DataFrame chain that Catalyst optimizes (filter pushdown into
each pattern scan, join reordering between patterns).

Query shape (Python dict mirroring the EDN query map):

    {"find": ["?name", ("count", "?c")],
     "where": [["?c", ":customer/c_nationkey", "?nk"],
               ["?n", ":nation/n_nationkey", "?nk"],
               ["?n", ":nation/n_name", "?name"]],
     "in": ["?segment"],          # optional
     "limit": 10}                 # optional

Aggregates over numeric attributes use the datoms view's `v_num`
projection; plain variables bind the canonical string `v`. Known
limitation (EAV is dynamically typed): sum/min/max over a non-numeric
attribute returns null rather than raising — attribute value types are a
runtime property of the triple store, not of the query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.rounds import bcast, settle

AGGS = {
    "count", "count-distinct", "sum", "min", "max",
    "avg", "median", "variance", "stddev", "distinct",
    # engine extension: EAV dynamic typing gives plain min/max the
    # NUMERIC projection (null over string-typed attrs); min-str /
    # max-str compare the canonical string value instead — what
    # Datomic's typed (min ?x) does on a string attribute
    "min-str", "max-str",
}
# aggregates that consume the numeric v_num projection
_NUM_AGGS = {"sum", "min", "max", "avg", "median", "variance", "stddev"}

import operator as _op

_PRED_OPS = {
    ">": _op.gt, ">=": _op.ge, "<": _op.lt, "<=": _op.le,
    "=": _op.eq, "==": _op.eq, "!=": _op.ne, "not=": _op.ne,
}
_ORDERING_OPS = {">", ">=", "<", "<="}


def _is_var(x) -> bool:
    return isinstance(x, str) and x.startswith("?")


def _var_name(v: str) -> str:
    return v[1:].replace("-", "_")


class DatalogError(ValueError):
    pass


# Fixpoint iteration bound for recursive rules. Reachable depth doubles
# nowhere (linear recursion walks one edge per iteration), so this is the
# longest path the engine will follow; raise it for very deep graphs.
MAX_FIXPOINT_ITERS = 100


def _scan_calls(clauses: list, rules) -> list[tuple[str, bool]]:
    """Every rule invocation in a clause list as (rule_name, negated),
    with multiplicity — descending into (not ...)/(not-join ...) bodies
    (negated=True) and (or ...)/(or-join ...) legs. `rules` is consulted
    for name membership only."""
    out: list[tuple[str, bool]] = []
    for pat in clauses:
        if not (len(pat) == 1 and isinstance(pat[0], (tuple, list)) and pat[0]):
            continue
        clause = list(pat[0])
        head = clause[0]
        if head in ("not", "not-join"):
            inner = clause[2:] if head == "not-join" else clause[1:]
            inner = [c if isinstance(c, list) else [c] for c in inner]
            out.extend((n, True) for n, _ in _scan_calls(inner, rules))
        elif head in ("or", "or-join"):
            legs = clause[2:] if head == "or-join" else clause[1:]
            for leg in legs:
                if isinstance(leg, tuple) and leg and leg[0] == "and":
                    cl = [c if isinstance(c, list) else [c] for c in leg[1:]]
                else:
                    cl = [leg if isinstance(leg, list) else [leg]]
                out.extend(_scan_calls(cl, rules))
        elif isinstance(head, str) and head in rules:
            out.append((head, False))
    return out


def _recursive_clique(name: str, rules: dict) -> set[str]:
    """The set of rules on a call cycle through `name` (its SCC in the
    rule-call graph) — empty when `name` is not recursive, {name} for
    direct self-recursion, larger for mutual recursion."""
    adj: dict[str, set[str]] = {}
    for r, defs in rules.items():
        edges: set[str] = set()
        for _, body in defs:
            edges.update(n for n, _ in _scan_calls(body, rules))
        adj[r] = edges

    def reach(graph: dict) -> set[str]:
        seen: set[str] = set()
        todo = list(graph.get(name, ()))
        while todo:
            cur = todo.pop()
            if cur in seen:
                continue
            seen.add(cur)
            todo.extend(graph.get(cur, ()))
        return seen

    radj: dict[str, set[str]] = {}
    for r, es in adj.items():
        for s in es:
            radj.setdefault(s, set()).add(r)
    # name →+ x AND x →+ name; non-empty iff name sits on a cycle
    return reach(adj) & reach(radj)


def _compile_predicate(clause, binding, num_binding, bound) -> F.Column:
    """Compile (op, lhs, rhs) to a boolean Column over already-bound vars.

    Numeric context (ordering ops, or a numeric constant operand) resolves
    value-position vars through the datoms view's `v_num` projection so
    `(> ?price 100)` compares numbers, not strings; equality against a
    string constant uses the canonical string `v`. Vars bound at e/a
    positions have no numeric projection — in numeric context Spark casts
    their string form (unparseable -> null -> row dropped), matching EAV's
    dynamic typing (see module docstring's known limitation)."""
    if len(clause) != 3:
        raise DatalogError(f"predicate must be (op lhs rhs): {clause}")
    op_name, lhs, rhs = clause
    fn = _PRED_OPS.get(op_name)
    if fn is None:
        raise DatalogError(
            f"unsupported predicate op {op_name!r} (have {sorted(_PRED_OPS)})"
        )
    # :in parameter substitution
    lhs = bound.get(lhs, lhs)
    rhs = bound.get(rhs, rhs)
    numeric_ctx = op_name in _ORDERING_OPS or any(
        isinstance(x, (int, float)) and not isinstance(x, bool)
        for x in (lhs, rhs)
    )

    def operand(x):
        if _is_var(x):
            if x not in binding:
                raise DatalogError(f"unbound predicate var {x}")
            if numeric_ctx and x in num_binding:
                return num_binding[x]
            return binding[x]
        return F.lit(x)

    return fn(operand(lhs), operand(rhs))


def _compile_str_predicate(clause, binding, bound) -> F.Column:
    """The clojure.string / regex predicate pack —
    [(clojure.string/starts-with? ?s "pre")], [(includes? ?s "mid")],
    [(re-find "pat" ?s)] (partial match), [(re-matches "pat" ?s)]
    (whole-string), [(blank? ?s)] — accepted namespaced or bare.
    Regex forms take the PATTERN FIRST (Clojure's re-find arg order);
    patterns are string literals (Java regex, compiled by Spark's
    rlike)."""
    head, *args = clause
    short = head.rsplit("/", 1)[-1]

    def sval(x):
        x = bound.get(x, x) if _is_var(x) else x
        if _is_var(x):
            if x not in binding:
                raise DatalogError(f"unbound predicate var {x}")
            return binding[x].cast("string")
        if not isinstance(x, str):
            raise DatalogError(f"({head} ...) operand must be string: {x!r}")
        return F.lit(x)

    if short == "blank?":
        if len(args) != 1:
            raise DatalogError(f"(blank? s) takes one arg: {clause}")
        s = sval(args[0])
        return s.isNull() | (F.trim(s) == "")
    if len(args) != 2:
        raise DatalogError(f"({head} a b) takes two args: {clause}")
    if short in ("re-find", "re-matches"):
        pat, s = args  # Clojure arg order: pattern first
        pat = bound.get(pat, pat) if _is_var(pat) else pat
        if _is_var(pat) or not isinstance(pat, str):
            raise DatalogError(f"({head} pat s) needs a literal pattern: {clause}")
        col = sval(s)
        return col.rlike(pat if short == "re-find" else f"^(?:{pat})$")
    s, frag = sval(args[0]), sval(args[1])
    if short == "starts-with?":
        return s.startswith(frag)
    if short == "ends-with?":
        return s.endswith(frag)
    return s.contains(frag)  # includes?


_ARITH_FNS = {"+", "-", "*", "/", "quot", "mod", "abs"}
_STR_FN_SHORT = {"upper-case", "lower-case", "trim", "subs", "count"}
_STR_PRED_SHORT = {
    "starts-with?", "ends-with?", "includes?", "re-find", "re-matches", "blank?",
}
_FN_HEADS = (
    _ARITH_FNS
    | {"str", "ground", "get-else", "get-some", "tuple"}
    | _STR_FN_SHORT
    | {f"clojure.string/{n}" for n in _STR_FN_SHORT if n != "count"}
)


def _canon_const(x) -> str:
    """Canonical string of a constant, matching eav.table_datoms's `v`
    formatting (integral floats lose the trailing .0)."""
    s = str(x)
    if isinstance(x, float) and s.endswith(".0"):
        s = s[:-2]
    return s


def _apply_fn_binding(
    plan: DataFrame | None,
    binding: dict,
    num_binding: dict,
    clause: list,
    out: str,
    datoms: DataFrame,
    bound: dict,
    idx: int,
    depth: int = 0,
) -> DataFrame | None:
    """[(fn arg...) ?out] — bind ?out to a computed column.

    Arithmetic fns resolve var operands through the numeric v_num
    projection (falling back to a string->double cast for e/a-bound
    vars, EAV dynamic typing); (str ...) concatenates canonical string
    forms; (ground c) binds a literal; (get-else ?e :attr default)
    left-joins the attr's datoms on ?e and coalesces to the default —
    Datomic's accessor for optional attributes, since EAV models null
    as datom ABSENCE."""
    head, *args = clause
    args = [bound.get(a, a) if _is_var(a) else a for a in args]
    if out in binding:
        raise DatalogError(f"function output var {out} is already bound")

    if head == "ground":
        if len(args) != 1 or _is_var(args[0]):
            raise DatalogError(f"(ground const) takes one constant: {clause}")
        c = args[0]
        binding[out] = F.lit(_canon_const(c) if not isinstance(c, str) else c)
        if isinstance(c, (int, float)) and not isinstance(c, bool):
            num_binding[out] = F.lit(float(c))
        return plan

    if head == "get-else":
        a = args[1:] if args and args[0] == "$" else args
        if len(a) != 3:
            raise DatalogError(f"(get-else ?e :attr default) expects 3 args: {clause}")
        evar, attr, default = a
        if not _is_var(evar) or evar not in binding:
            raise DatalogError(f"(get-else ...) entity var {evar} must be bound")
        if _is_var(attr) or _is_var(default):
            raise DatalogError("(get-else ...) attr and default must be constants")
        if plan is None:
            raise DatalogError("(get-else ...) before any pattern")
        al = f"ge{idx}_{depth}"
        sub = datoms.where(F.col("a") == attr).select(
            F.col("e").alias(f"__{al}_e"),
            F.col("v").alias(f"__{al}_v"),
            F.col("v_num").alias(f"__{al}_vn"),
        )
        plan = plan.join(sub, binding[evar] == F.col(f"__{al}_e"), "left")
        binding[out] = F.coalesce(
            F.col(f"__{al}_v"),
            F.lit(default if isinstance(default, str) else _canon_const(default)),
        )
        num_default = (
            F.lit(float(default))
            if isinstance(default, (int, float)) and not isinstance(default, bool)
            else F.lit(None).cast("double")
        )
        num_binding[out] = F.coalesce(F.col(f"__{al}_vn"), num_default)
        return plan

    if head == "get-some":
        return _apply_get_some(
            plan, binding, num_binding, args, out, datoms, idx, depth
        )

    if head == "str":
        parts = []
        for x in args:
            if _is_var(x):
                if x not in binding:
                    raise DatalogError(f"unbound (str ...) operand {x}")
                parts.append(binding[x].cast("string"))
            else:
                parts.append(F.lit(x if isinstance(x, str) else _canon_const(x)))
        binding[out] = F.concat(*parts)
        return plan

    short = head.rsplit("/", 1)[-1]
    if short in _STR_FN_SHORT:
        # the clojure.string pack Datomic queries reach for —
        # [(clojure.string/upper-case ?n) ?u], [(subs ?n 0 3) ?p],
        # [(count ?n) ?len] — accepted namespaced or bare
        def sval(x):
            if _is_var(x):
                if x not in binding:
                    raise DatalogError(f"unbound ({head} ...) operand {x}")
                return binding[x].cast("string")
            return F.lit(x if isinstance(x, str) else _canon_const(x))

        if short in ("upper-case", "lower-case", "trim"):
            if len(args) != 1:
                raise DatalogError(f"({head} s) takes one arg: {clause}")
            fn = {"upper-case": F.upper, "lower-case": F.lower,
                  "trim": F.trim}[short]
            binding[out] = fn(sval(args[0]))
            return plan
        if short == "count":
            # clojure.core/count on a string: its length — a NUMERIC
            # binding (joins/compares through the v_num convention)
            if len(args) != 1:
                raise DatalogError(f"(count s) takes one arg: {clause}")
            expr = F.length(sval(args[0])).cast("bigint")
            binding[out] = expr
            num_binding[out] = expr.cast("double")
            return plan
        # subs: Clojure 0-based [start, end) — out-of-range truncates
        # here (Spark substring semantics) where Clojure would throw
        if len(args) not in (2, 3) or any(
            _is_var(a) or isinstance(a, bool) or not isinstance(a, int)
            for a in args[1:]
        ):
            raise DatalogError(
                f"(subs s start [end]) takes int literal bounds: {clause}"
            )
        start = args[1]
        if len(args) == 3:
            binding[out] = F.substring(sval(args[0]), start + 1, args[2] - start)
        else:
            binding[out] = F.substring(sval(args[0]), start + 1, 1 << 30)
        return plan

    if head == "tuple":
        # Datomic's (tuple ?a ?b ...) — pack operands into one vector
        # value (an array of canonical strings here); (untuple ?t)
        # destructures it back
        if not args:
            raise DatalogError(f"(tuple x+) needs operands: {clause}")
        cols = []
        for x in args:
            if _is_var(x):
                if x not in binding:
                    raise DatalogError(f"unbound (tuple ...) operand {x}")
                cols.append(binding[x].cast("string"))
            else:
                cols.append(F.lit(x if isinstance(x, str) else _canon_const(x)))
        binding[out] = F.array(*cols)
        return plan

    # arithmetic over the numeric projection
    def num(x):
        if _is_var(x):
            if x not in binding:
                raise DatalogError(f"unbound function operand {x}")
            return num_binding.get(x, binding[x].cast("double"))
        if not isinstance(x, (int, float)) or isinstance(x, bool):
            raise DatalogError(f"non-numeric operand {x!r} for ({head} ...)")
        return F.lit(float(x))

    if head == "abs":
        if len(args) != 1:
            raise DatalogError(f"(abs x) takes one arg: {clause}")
        expr = F.abs(num(args[0]))
    elif len(args) < 2 and head != "-":
        raise DatalogError(f"({head} ...) needs at least two args: {clause}")
    elif head == "-" and len(args) == 1:
        expr = -num(args[0])
    else:
        ops = [num(x) for x in args]
        expr = ops[0]
        for o in ops[1:]:
            if head == "+":
                expr = expr + o
            elif head == "-":
                expr = expr - o
            elif head == "*":
                expr = expr * o
            elif head == "/":
                expr = expr / o
            elif head == "quot":
                # truncation toward zero (double->long cast), Clojure quot
                expr = (expr / o).cast("long").cast("double")
            elif head == "mod":
                expr = expr % o
    binding[out] = expr
    num_binding[out] = expr
    return plan


def _apply_get_some(
    plan: DataFrame | None,
    binding: dict,
    num_binding: dict,
    args: list,
    out,
    datoms: DataFrame,
    idx: int,
    depth: int = 0,
) -> DataFrame:
    """(get-some $ ?e :attr1 :attr2 ...) — Datomic's first-present
    accessor: left-joins each attribute in order and takes the first
    value present. Rows where EVERY attribute is absent are dropped
    (a function binding that returns nil fails the clause, Datomic
    semantics). `out` is either a single var (binds the value) or a
    2-var tuple destructuring [?a ?v] (binds the winning attribute
    keyword and its value, Datomic's [attr value] return shape).

    The entity term is a bound var or an :in-substituted constant (the
    dispatcher substitutes :in params before calling; a constant entity
    becomes the join key literal, which Catalyst pushes into each
    sub-scan as a filter).

    Scale/cardinality notes: all listed attributes reduce in ONE
    pivot-style aggregation — a single scan filtered to the attr set,
    one groupBy(e) producing per-attr (min v, its v_num via min_by)
    columns, one left join onto the plan (k attributes cost one shuffle,
    not k; the r5 verdict's pivot suggestion). get-some binds a single
    [attr value] per entity, so a cardinality-many attribute must not
    multiply rows; Datomic returns an unspecified datom, here
    deterministically the minimum v. The numeric projection and (in the
    destructured form) the winning attribute are derived from the SAME
    first-present winner as the value — a chained CASE over the per-attr
    presence flags — so a non-numeric winner yields a null numeric
    binding rather than silently falling through to a later attribute's
    number."""
    a = args[1:] if args and args[0] == "$" else args
    if len(a) < 2:
        raise DatalogError("(get-some $ ?e :attr+) needs an entity var and attrs")
    evar, attrs = a[0], a[1:]
    if _is_var(evar):
        if evar not in binding:
            raise DatalogError(f"(get-some ...) entity var {evar} must be bound")
        e_expr = binding[evar]
    else:
        # :in-substituted entity constant
        e_expr = F.lit(evar if isinstance(evar, str) else _canon_const(evar))
    if any(_is_var(x) for x in attrs):
        raise DatalogError("(get-some ...) attrs must be constants")
    if plan is None:
        raise DatalogError("(get-some ...) before any pattern")

    al = f"gs{idx}_{depth}"
    aggs = []
    for j, attr in enumerate(attrs):
        hit = F.col("a") == attr
        aggs.append(F.min(F.when(hit, F.col("v"))).alias(f"__{al}_v{j}"))
        # min_by skips rows whose ordering expr is null, so each column
        # pair reduces over only its own attribute's datoms
        aggs.append(
            F.min_by(
                F.when(hit, F.col("v_num")), F.when(hit, F.col("v"))
            ).alias(f"__{al}_vn{j}")
        )
    sub = (
        datoms.where(F.col("a").isin(list(attrs)))
        .groupBy(F.col("e").alias(f"__{al}_e"))
        .agg(*aggs)
    )
    plan = plan.join(sub, e_expr == F.col(f"__{al}_e"), "left")
    vals = [F.col(f"__{al}_v{j}") for j in range(len(attrs))]
    nums = [F.col(f"__{al}_vn{j}") for j in range(len(attrs))]
    val = F.coalesce(*vals)
    plan = plan.where(val.isNotNull())

    def _from_winner(outs):
        # first attribute with a present value wins; take ITS projection
        # (not the first non-null projection, which could belong to a
        # different attribute)
        expr = None
        for v_col, o in zip(vals, outs):
            expr = (
                F.when(v_col.isNotNull(), o)
                if expr is None
                else expr.when(v_col.isNotNull(), o)
            )
        return expr

    num_val = _from_winner(nums)
    if isinstance(out, (tuple, list)):
        if len(out) != 2 or not all(_is_var(x) for x in out):
            raise DatalogError(
                f"(get-some ...) tuple destructuring needs [?a ?v]: {out}"
            )
        avar, vvar = out
        for o in out:
            if o in binding:
                raise DatalogError(f"function output var {o} is already bound")
        binding[avar] = _from_winner([F.lit(attr) for attr in attrs])
        binding[vvar] = val
        num_binding[vvar] = num_val
    else:
        if out in binding:
            raise DatalogError(f"function output var {out} is already bound")
        binding[out] = val
        num_binding[out] = num_val
    return plan


def _apply_fulltext(
    plan: DataFrame | None,
    binding: dict,
    num_binding: dict,
    clause: list,
    out,
    datoms: DataFrame,
    bound: dict,
    idx: int,
    depth: int = 0,
) -> DataFrame:
    """(fulltext $ :attr "search") [[?e ?v]] — Datomic's fulltext
    clause (schema.edn flags :db/fulltext true attributes; Lucene-backed
    in the reference). Spark-first: a pre-filtered scan of the attr's
    datoms with an ANY-of-terms token match — Lucene's QueryParser
    default operator is OR, so a multi-term search matches a value
    containing at least one term, like the reference; AND scoring lives
    in operators.fulltext.fulltext_search(mode='all'). Tokenization is
    shared with operators.text.tokens, so datalog fulltext and the
    postings index of operators.fulltext agree on terms; the scan joins
    the outer plan exactly like a triple pattern. The term set is a
    driver-side literal compiled into the plan — at scale the filter
    pushes down to a scan of the (bucketed) attr partition, same shape
    as fulltext_search."""
    from ..operators.fulltext import query_terms
    from ..operators.text import tokens

    a = clause[1:]
    if a and a[0] == "$":
        a = a[1:]
    if len(a) != 2:
        raise DatalogError(f"(fulltext $ :attr search) expects 2 args: {clause}")
    attr, search = a
    if _is_var(attr):
        raise DatalogError("(fulltext ...) attr must be a constant")
    if _is_var(search):
        if search not in bound:
            raise DatalogError(f"(fulltext ...) search var {search} must be an :in param")
        search = bound[search]
    if not isinstance(search, str):
        raise DatalogError(f"(fulltext ...) search must be a string: {search!r}")

    # [[?e ?v]] relation destructuring (Datomic shape) or bare [?e ?v]
    dest = out
    if (
        isinstance(dest, (tuple, list)) and len(dest) == 1
        and isinstance(dest[0], (tuple, list))
    ):
        dest = dest[0]
    if (
        not isinstance(dest, (tuple, list))
        or not 1 <= len(dest) <= 2
        or not all(_is_var(x) for x in dest)
    ):
        raise DatalogError(
            f"(fulltext ...) output must destructure [[?e ?v]]: {out}"
        )

    alias = f"ft{idx}_{depth}"
    scan = datoms.alias(alias).where(F.col(f"{alias}.a") == attr)
    toks = tokens(F.col(f"{alias}.v"))
    terms = query_terms(search)
    if not terms:
        # Lucene rejects an empty query; a never-true filter would be
        # indistinguishable from a genuine miss
        raise DatalogError(
            f"(fulltext ...) search string yields no terms: {search!r}"
        )
    scan = scan.where(
        F.arrays_overlap(toks, F.array(*[F.lit(t) for t in terms]))
    )

    cols = [F.col(f"{alias}.e"), F.col(f"{alias}.v")]
    join_conds = []
    for var, col in zip(dest, cols):
        if var in binding:
            join_conds.append(col == binding[var])
        else:
            binding[var] = col
            if var == dest[-1] and len(dest) == 2:
                num_binding[var] = F.col(f"{alias}.v_num")
    if plan is None:
        if join_conds:
            raise DatalogError("(fulltext ...) first clause cannot self-reference")
        return scan
    if join_conds:
        cond = join_conds[0]
        for c in join_conds[1:]:
            cond = cond & c
        return plan.join(scan, cond)
    return plan.crossJoin(scan)


def _log_param(clause, bound) -> DataFrame:
    """Resolve a log fn's first argument (?log) to a datoms-shaped log
    frame. The var must be an :in param bound to a DataFrame carrying
    (e, a, tx, added) — a raw history log (e,a,v_num,tx,added) is
    normalized via history.log_datoms; a log_datoms view passes
    through. This is Datomic's `:in $ ?log` with `(d/log conn)`."""
    lvar = clause[1] if len(clause) > 1 else None
    if not _is_var(lvar):
        raise DatalogError(f"({clause[0]} ?log ...) needs a log var: {clause}")
    if lvar not in bound:
        raise DatalogError(
            f"({clause[0]} ...) log var {lvar} must be an :in param bound "
            "to a log DataFrame (Datomic's (d/log conn))"
        )
    logf = bound[lvar]
    if not isinstance(logf, DataFrame):
        raise DatalogError(
            f"({clause[0]} ...) log param {lvar} must be a DataFrame, "
            f"got {type(logf).__name__}"
        )
    if "tx" not in logf.columns or "added" not in logf.columns:
        raise DatalogError(
            f"({clause[0]} ...) log frame needs tx/added columns; got "
            f"{logf.columns}"
        )
    if "v" in logf.columns:
        return logf
    from .history import log_datoms

    return log_datoms(logf, keep=("inst",))


def _log_bound_t(term, bound, what: str):
    """A tx-boundary operand: an int literal (a t), or a timestamp
    STRING (a txInstant Date — Datomic's tx-ids accepts either), or a
    var bound to one via :in."""
    if _is_var(term):
        if term not in bound:
            raise DatalogError(f"{what} boundary var {term} must be an :in param")
        term = bound[term]
    if isinstance(term, str):
        return term  # instant boundary — resolved against the inst column
    if not isinstance(term, int) or isinstance(term, bool):
        raise DatalogError(
            f"{what} boundary must be an int tx or instant string: {term!r}"
        )
    return term


def _apply_tx_ids(
    plan: DataFrame | None,
    binding: dict,
    num_binding: dict,
    clause: list,
    out,
    bound: dict,
    idx: int,
    depth: int = 0,
) -> DataFrame:
    """[(tx-ids ?log t1 t2) [?tx ...]] — Datomic's Log API range scan
    (d/tx-range over the log inside query): the distinct transaction
    ids with t1 <= tx < t2 (half-open, like d/tx-range). Spark-first:
    a tx-only projection of the log with a range predicate that reaches
    the scan — on tx-partitioned storage (history.materialize_log) this
    prunes to the touched range, never a full-log pass. The output is
    a collection binding, joined into the plan like any relation."""
    if len(clause) != 4:
        raise DatalogError(f"(tx-ids ?log t1 t2) expects 3 args: {clause}")
    logf = _log_param(clause, bound)
    t1 = _log_bound_t(clause[2], bound, "(tx-ids ...)")
    t2 = _log_bound_t(clause[3], bound, "(tx-ids ...)")
    dest = list(out)
    if len(dest) != 2 or dest[1] != "..." or not _is_var(dest[0]):
        raise DatalogError(
            f"(tx-ids ...) output must be a collection [?tx ...]: {out}"
        )
    tvar = dest[0]
    alias = f"txids{idx}_{depth}"

    def bound_pred(t, op):
        # int t -> tx comparison; timestamp string -> :db/txInstant
        # comparison (Datomic's Date overload); the log frame must then
        # carry an inst column
        if isinstance(t, str):
            if "inst" not in logf.columns:
                raise DatalogError(
                    "(tx-ids ...) instant boundary needs an 'inst' column "
                    "on the log frame (:db/txInstant); got "
                    f"{logf.columns}"
                )
            inst = F.col("inst")
            cut = F.lit(t).cast(dict(logf.dtypes)["inst"])
            return inst >= cut if op == ">=" else inst < cut
        return F.col("tx") >= t if op == ">=" else F.col("tx") < t

    rel = (
        logf.where(bound_pred(t1, ">=") & bound_pred(t2, "<"))
        .select("tx")
        .distinct()
        .alias(alias)
    )
    col = F.col(f"{alias}.tx")
    if plan is None:
        if tvar in binding:
            raise DatalogError("(tx-ids ...) first clause cannot self-reference")
        binding[tvar] = col
        num_binding[tvar] = col.cast("double")
        return rel
    if tvar in binding:
        return plan.join(rel, col == binding[tvar])
    binding[tvar] = col
    num_binding[tvar] = col.cast("double")
    return plan.crossJoin(rel)  # unconstrained tx set — legal datalog


def _apply_tx_data(
    plan: DataFrame | None,
    binding: dict,
    num_binding: dict,
    clause: list,
    out,
    bound: dict,
    idx: int,
    depth: int = 0,
) -> DataFrame:
    """[(tx-data ?log ?tx) [[?e ?a ?v _ ?op]]] — Datomic's Log API
    datom accessor: the ops of transaction ?tx, destructured
    positionally as (e, a, v, tx, added); '_' skips a position, a
    shorter vector takes a prefix. ?tx may be a bound var (the usual
    tx-ids chain — compiles to an equi-join on tx, NOT a per-tx loop),
    an :in param / int literal (a pushdown filter), or unbound (binds
    from the scan). Joins the outer plan exactly like a triple
    pattern over the history db."""
    if len(clause) != 3:
        raise DatalogError(f"(tx-data ?log ?tx) expects 2 args: {clause}")
    logf = _log_param(clause, bound)
    txterm = clause[2]
    dest = out
    if (
        isinstance(dest, (tuple, list)) and len(dest) == 1
        and isinstance(dest[0], (tuple, list))
    ):
        dest = list(dest[0])
    if (
        not isinstance(dest, (tuple, list))
        or not 1 <= len(dest) <= 5
        or not all(x == "_" or _is_var(x) for x in dest)
    ):
        raise DatalogError(
            f"(tx-data ...) output must destructure [[?e ?a ?v ?tx ?op]]: {out}"
        )

    alias = f"txdata{idx}_{depth}"
    scan = logf.alias(alias)
    cols = {"e": F.col(f"{alias}.e"), "a": F.col(f"{alias}.a"),
            "v": F.col(f"{alias}.v"), "tx": F.col(f"{alias}.tx"),
            "added": F.col(f"{alias}.added")}
    join_conds = []

    if _is_var(txterm) and txterm in bound:
        txterm = bound[txterm]
    if _is_var(txterm):
        if txterm in binding:
            join_conds.append(cols["tx"] == binding[txterm])
        else:
            binding[txterm] = cols["tx"]
            num_binding[txterm] = cols["tx"].cast("double")
    else:
        if not isinstance(txterm, int) or isinstance(txterm, bool):
            raise DatalogError(f"(tx-data ...) tx must be an int or var: {txterm!r}")
        scan = scan.where(F.col(f"{alias}.tx") == txterm)

    for pos, var in zip(["e", "a", "v", "tx", "added"], dest):
        if var == "_":
            continue
        if var in binding:
            join_conds.append(cols[pos] == binding[var])
        else:
            binding[var] = cols[pos]
            if pos == "v":
                num_binding[var] = F.col(f"{alias}.v_num")
            elif pos == "tx":
                num_binding[var] = cols["tx"].cast("double")

    if plan is None:
        if join_conds:
            raise DatalogError("(tx-data ...) first clause cannot self-reference")
        return scan
    if join_conds:
        cond = join_conds[0]
        for c in join_conds[1:]:
            cond = cond & c
        return plan.join(scan, cond)
    return plan.crossJoin(scan)


def _parse_rules(rules: list) -> dict[str, list[tuple[list, list]]]:
    """Validate rule definitions [[(name ?a ?b), clause...], ...] into
    {name: [(args, body), ...]} — multiple defs per name = OR/union
    (Datomic rule semantics)."""
    defs: dict[str, list[tuple[list, list]]] = {}
    for rd in rules:
        if not rd or not isinstance(rd[0], (tuple, list)) or not rd[0]:
            raise DatalogError(f"rule needs a (name ?args...) head: {rd}")
        name, *args = rd[0]
        if not isinstance(name, str) or _is_var(name):
            raise DatalogError(f"bad rule name {name!r}")
        if name in ("not", "or", "and", "not-join", "or-join", "missing?"):
            raise DatalogError(f"rule name {name!r} is a reserved word")
        if not args or not all(_is_var(a) for a in args):
            raise DatalogError(f"rule {name} head args must be vars: {args}")
        prior = defs.setdefault(name, [])
        if prior and len(prior[0][0]) != len(args):
            raise DatalogError(f"rule {name} defs disagree on arity")
        prior.append((list(args), list(rd[1:])))
    return defs


def _rule_branch(
    name: str,
    args: list,
    body: list,
    datoms: DataFrame,
    rules: dict,
    stack: tuple[str, ...],
    impl: dict[str, DataFrame],
    dbs: dict[str, DataFrame] | None,
) -> DataFrame:
    """Compile one rule definition's body and project it onto the head
    vars as positional columns a0..aN (plus __num_aJ numeric
    projections, null where the def binds the var non-numerically)."""
    plan, binding, num_binding = _compile_where(
        body, datoms, {}, rules, stack + (name,), impl, dbs=dbs
    )
    return _project_head(plan, binding, num_binding, name, args)


def _project_head(
    plan: DataFrame | None,
    binding: dict,
    num_binding: dict,
    name: str,
    args: list,
) -> DataFrame:
    if plan is None:
        raise DatalogError(f"rule {name} has an empty body")
    proj = []
    for j, a in enumerate(args):
        if a not in binding:
            raise DatalogError(f"rule {name} head var {a} unbound in body")
        proj.append(binding[a].alias(f"a{j}"))
        proj.append(
            num_binding.get(a, F.lit(None).cast("double")).alias(f"__num_a{j}")
        )
    return plan.select(*proj)


def _union_all(branches: list[DataFrame]) -> DataFrame:
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _cached_runner(
    name: str,
    args: list,
    body: list,
    call_names: set,
    datoms: DataFrame,
    rules: dict,
    stack: tuple[str, ...],
    rec_impl: dict,
    dbs: dict | None,
    cached: list,
):
    """Semi-naive PREFIX CACHE: when a recursive def's single recursive
    call (into `call_names`, the rule's recursion clique) is a
    top-level clause at index k>0, the body splits as
    [static prefix][call + tail]. Every prefix clause is
    delta-independent, so its subplan (for transitive closure, the edge
    relation) compiles ONCE and persists across fixpoint rounds instead
    of re-deriving from the source scan every iteration — the textbook
    semi-naive implementation choice, and the part that matters when
    the prefix is a real store scan. MEMORY_AND_DISK (spills rather
    than OOMs on a large prefix relation); the frame is appended to
    `cached` for the caller to unpersist when its fixpoint returns
    (totals are localCheckpointed — independent of the cache). Returns
    a callable(impl) producing the def's branch frame, or None when the
    shape doesn't qualify (leading call, nested call, several
    top-level calls) — caller falls back to per-round recompile.
    Clause numbering offsets (idx0) keep scan aliases collision-free
    across the two-call compile; bindings copy per round so later
    rounds don't see earlier rounds' suffix vars as already bound."""
    k = None
    top_calls = 0
    for j, cl in enumerate(body):
        if (
            len(cl) == 1
            and isinstance(cl[0], (tuple, list))
            and cl[0]
            and cl[0][0] in call_names
        ):
            if k is None:
                k = j
            top_calls += 1
    if k is None or k == 0 or top_calls != 1:
        return None

    from pyspark import StorageLevel

    pre_plan, pre_b, pre_nb = _compile_where(
        body[:k], datoms, {}, rules, stack + (name,), rec_impl, dbs=dbs
    )
    if pre_plan is not None:
        pre_plan = pre_plan.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(pre_plan)

    def run(impl, a=args, b=body, k=k, pp=pre_plan, pb=pre_b, pn=pre_nb):
        plan, bind, nbind = _compile_where(
            b[k:], datoms, {}, rules, stack + (name,), impl,
            init=(pp, dict(pb), dict(pn)), dbs=dbs, idx0=k,
        )
        return _project_head(plan, bind, nbind, name, a)

    return run


def _compile_rule(
    name: str,
    datoms: DataFrame,
    rules: dict[str, list[tuple[list, list]]],
    stack: tuple[str, ...],
    rec_impl: dict[str, DataFrame] | None = None,
    dbs: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Compile every definition of a rule to one DataFrame with
    positional columns a0..aN (plus __num_aJ numeric projections, null
    where a def binds the var non-numerically), unioned across defs.

    A recursive rule, direct (a clique of one) or mutual, evaluates by
    the semi-naive fixpoint of its strongly-connected clique
    (_compile_clique). `rec_impl` carries the in-progress relations
    down the compile, so a recursive invocation resolves to a DataFrame
    instead of recursing."""
    rec_impl = rec_impl or {}
    if name in rec_impl:
        return rec_impl[name]
    clique = _recursive_clique(name, rules)
    if clique:
        return _compile_clique(name, clique, datoms, rules, stack, rec_impl, dbs)
    if name in stack:
        # unreachable in normal flow (cycles resolve via rec_impl or the
        # clique path above); kept as a recursion-safety backstop
        raise DatalogError(f"unresolved recursive invocation of rule {name!r}")
    return _union_all([
        _rule_branch(name, a, b, datoms, rules, stack, rec_impl, dbs)
        for a, b in rules[name]
    ]).distinct()


def _compile_clique(
    name: str,
    clique: set[str],
    datoms: DataFrame,
    rules: dict[str, list[tuple[list, list]]],
    stack: tuple[str, ...],
    rec_impl: dict[str, DataFrame],
    dbs: dict[str, DataFrame] | None,
) -> DataFrame:
    """Stratified semi-naive fixpoint over a recursion clique: the
    strongly-connected component of the rule-call graph, {name} for a
    directly recursive rule, larger for mutual recursion (e.g.
    even-hop/odd-hop reachability). Every rule of the clique iterates
    together.

    Each rule's defs split on whether they invoke a clique member: the
    clique-free defs seed that rule's relation; every round re-derives
    the clique-calling defs — a def with exactly ONE clique call runs
    against that rule's previous-round DELTA (semi-naive: tuples
    derivable from older inputs were derived in older rounds), a def
    with several runs against the full totals (naive re-derivation,
    still correct) — then anti-joins the already-known tuples per rule.
    The loop ends when every rule's delta is empty, so a seed that
    derives nothing runs no round. Rules with no seed defs start EMPTY
    (None) and populate once a rule they read from produces tuples, so
    only part of the clique needs ground defs (the even/odd pattern).
    Every seed and per-round delta settles, and the deltas and totals
    the round reads go through bcast (wide rows; operators/rounds.py).
    A total is a union of settled deltas, so lineage stays shallow
    without re-materializing the whole relation each round. A clique
    call under (not ...) is recursion through negation and raises (not
    stratified — Datomic rejects it too)."""
    base: dict[str, list] = {}
    rec: dict[str, list] = {}
    order = sorted(clique)
    for r in order:
        b, rc = [], []
        for args, body in rules[r]:
            calls = _scan_calls(body, rules)
            if any(neg for n, neg in calls if n in clique):
                raise DatalogError(
                    f"rule {r!r} recurses through negation into the clique "
                    f"{order} (not stratified)"
                )
            in_clique = [n for n, _ in calls if n in clique]
            (rc if in_clique else b).append((args, body, in_clique))
        base[r], rec[r] = b, rc
    if not any(base.values()):
        raise DatalogError(
            f"recursive rules {order} have no non-recursive def "
            "to seed the fixpoint"
        )

    # per-(rule, def) round runners: callable(impl) -> branch frame. A
    # def whose single clique call is a top-level clause after at least
    # one static clause runs on the prefix cache (_cached_runner)
    cached: list[DataFrame] = []

    def runner(r, args, body, in_clique):
        run = len(in_clique) == 1 and _cached_runner(
            r, args, body, clique, datoms, rules, stack, rec_impl, dbs, cached
        )
        return run or (lambda impl: _rule_branch(
            r, args, body, datoms, rules, stack, impl, dbs
        ))

    runners = {r: [runner(r, *d) for d in rec[r]] for r in order}

    # (frame, row count) per rule, None while empty; the counts drive
    # every bcast since settled frames are stats-less
    totals: dict[str, tuple[DataFrame, int] | None] = {}
    deltas: dict[str, tuple[DataFrame, int] | None] = {}
    try:
        for r in order:
            totals[r] = deltas[r] = None
            if base[r]:
                totals[r] = settle(_union_all([
                    _rule_branch(r, a, b, datoms, rules, stack, rec_impl, dbs)
                    for a, b, _ in base[r]
                ]).distinct())
                deltas[r] = totals[r] if totals[r][1] else None
        for _ in range(MAX_FIXPOINT_ITERS):
            new_deltas: dict[str, tuple[DataFrame, int] | None] = {}
            for r in order:
                rounds = []
                for (_, _, in_clique), run in zip(rec[r], runners[r]):
                    calls = set(in_clique)
                    if len(in_clique) == 1:
                        reads = deltas  # semi-naive: the previous round's delta
                    elif any(totals[s] is None for s in calls):
                        continue  # naive: wait until every called relation exists
                    else:
                        reads = totals
                    if all(deltas[s] is None for s in calls):
                        continue  # nothing new flowed into this def
                    impl = dict(rec_impl)
                    impl.update((s, bcast(*reads[s], wide=True)) for s in calls)
                    rounds.append(run(impl))
                new_deltas[r] = None
                if not rounds:
                    continue
                new = _union_all(rounds).distinct()
                if totals[r] is not None:
                    new = new.join(
                        bcast(*totals[r], wide=True),
                        on=[f"a{j}" for j in range(len(rules[r][0][0]))],
                        how="left_anti",
                    )
                new, n_new = settle(new)
                if n_new:
                    new_deltas[r] = (new, n_new)
                    totals[r] = (new, n_new) if totals[r] is None else (
                        totals[r][0].unionByName(new), totals[r][1] + n_new
                    )
            deltas = new_deltas
            if all(d is None for d in deltas.values()):
                if totals[name] is not None:
                    return totals[name][0]
                # the invoked rule derived nothing — a typed empty relation
                fields = ", ".join(
                    f"a{j} string, __num_a{j} double"
                    for j in range(len(rules[name][0][0]))
                )
                return datoms.sparkSession.createDataFrame([], fields)
    finally:
        for c in cached:
            c.unpersist()
    raise DatalogError(
        f"recursive rules {order} did not reach a fixpoint within "
        f"{MAX_FIXPOINT_ITERS} iterations (raise datalog.MAX_FIXPOINT_ITERS "
        "for deeper graphs)"
    )


def _apply_rule(
    plan: DataFrame | None,
    binding: dict,
    num_binding: dict,
    clause: list,
    datoms: DataFrame,
    bound: dict,
    rules: dict,
    stack: tuple[str, ...],
    idx: int,
    rec_impl: dict[str, DataFrame] | None = None,
    dbs: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Join a rule invocation [(name term...)] into the running plan:
    constants filter the rule plan, already-bound vars become join
    conditions, fresh vars bind to the rule plan's columns."""
    name, *terms = clause
    arity = len(rules[name][0][0])
    if len(terms) != arity:
        raise DatalogError(f"rule {name} arity {arity} != {len(terms)} args")
    alias = f"rule{idx}_{len(stack)}"
    rp = _compile_rule(name, datoms, rules, stack, rec_impl, dbs).alias(alias)
    cols = [F.col(f"{alias}.a{j}") for j in range(arity)]
    ncols = [F.col(f"{alias}.__num_a{j}") for j in range(arity)]

    filters, join_conds, fresh = [], [], []
    for j, term in enumerate(terms):
        if term == "_" or term is None:
            continue
        if _is_var(term) and term in bound:
            term = bound[term]
        if _is_var(term):
            if term in binding:
                join_conds.append(cols[j] == binding[term])
            else:
                fresh.append((term, cols[j], ncols[j]))
        else:
            filters.append(cols[j] == F.lit(term))

    scan = rp
    for f in filters:
        scan = scan.where(f)
    if plan is None:
        plan = scan
    elif join_conds:
        cond = join_conds[0]
        for c in join_conds[1:]:
            cond = cond & c
        plan = plan.join(scan, cond)
    else:
        plan = plan.crossJoin(scan)
    for term, c, nc in fresh:
        binding[term] = c
        num_binding[term] = nc
    return plan


def _apply_not(
    plan: DataFrame | None,
    binding: dict,
    inner: list,
    datoms: DataFrame,
    bound: dict,
    rules: dict,
    stack: tuple[str, ...],
    rec_impl: dict[str, DataFrame] | None,
    join_vars: list | None = None,
    dbs: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """(not clause+): remove bindings for which the inner clauses are
    satisfiable — a left-anti join on the variables shared with the
    outer plan (Datomic unification). Vars appearing ONLY inside the
    not are existential; at least one shared var is required (a not
    with no unification would be all-or-nothing, which Datomic also
    rejects). `join_vars` is the (not-join [vars] ...) form: unification
    restricted to the listed vars, everything else local to the not."""
    if plan is None:
        raise DatalogError("(not ...) before any pattern has nothing to subtract")
    if not inner:
        raise DatalogError("(not ...) needs at least one inner clause")
    sub, sub_binding, _ = _compile_where(
        [c if isinstance(c, list) else [c] for c in inner],
        datoms, bound, rules, stack, rec_impl, dbs=dbs,
    )
    if join_vars is not None:
        for v in join_vars:
            if v not in binding:
                raise DatalogError(f"(not-join ...) var {v} unbound in outer clauses")
            if v not in sub_binding:
                raise DatalogError(f"(not-join ...) var {v} unbound in inner clauses")
        shared = list(join_vars)
    else:
        shared = [v for v in sub_binding if v in binding]
    if not shared:
        raise DatalogError(
            f"(not ...) shares no variables with the outer clauses: {inner}"
        )
    proj = sub.select(
        *[sub_binding[v].alias(f"__not_{j}") for j, v in enumerate(shared)]
    )
    cond = None
    for j, v in enumerate(shared):
        c = binding[v] == F.col(f"__not_{j}")
        cond = c if cond is None else cond & c
    return plan.join(proj, cond, "left_anti")


def _apply_or(
    plan: DataFrame | None,
    binding: dict,
    num_binding: dict,
    legs: list,
    datoms: DataFrame,
    bound: dict,
    rules: dict,
    stack: tuple[str, ...],
    idx: int,
    rec_impl: dict[str, DataFrame] | None,
    join_vars: list | None = None,
    dbs: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """(or leg+): each leg is one clause or an ("and", clause+) group;
    every leg must bind the SAME variable set (Datomic's rule for or).
    Compiles to an anonymous inline rule: legs union into one relation
    on the shared vars, which then joins the outer plan exactly like a
    rule invocation (bound vars unify, fresh vars bind). `join_vars`
    is the (or-join [vars] ...) form: legs may bind different sets,
    only the listed vars unify and export."""
    if not legs:
        raise DatalogError("(or ...) needs at least one leg")
    leg_rels: list[tuple[DataFrame, dict, dict]] = []
    for leg in legs:
        if isinstance(leg, tuple) and leg and leg[0] == "and":
            clauses = [c if isinstance(c, list) else [c] for c in leg[1:]]
        else:
            clauses = [leg if isinstance(leg, list) else [leg]]
        sub, sb, snb = _compile_where(
            clauses, datoms, bound, rules, stack, rec_impl, dbs=dbs
        )
        if sub is None:
            raise DatalogError(f"(or ...) leg is empty: {leg}")
        leg_rels.append((sub, sb, snb))
    if join_vars is not None:
        # (or-join [vars] leg+): legs unify/export ONLY the listed vars,
        # any other leg vars are leg-local (existential)
        for v in join_vars:
            for _, sb, _ in leg_rels:
                if v not in sb:
                    raise DatalogError(f"(or-join ...) var {v} unbound in a leg")
        vars_ = sorted(join_vars)
    else:
        var_sets = [set(sb) for _, sb, _ in leg_rels]
        if any(vs != var_sets[0] for vs in var_sets[1:]):
            raise DatalogError(
                f"(or ...) legs bind different variable sets: "
                f"{sorted(map(sorted, var_sets))}"
            )
        vars_ = sorted(var_sets[0])
    branches = []
    for sub, sb, snb in leg_rels:
        proj = []
        for j, v in enumerate(vars_):
            proj.append(sb[v].alias(f"a{j}"))
            proj.append(snb.get(v, F.lit(None).cast("double")).alias(f"__num_a{j}"))
        branches.append(sub.select(*proj))
    rel = branches[0]
    for b in branches[1:]:
        rel = rel.unionByName(b)
    rel = rel.distinct().alias(f"or{idx}_{len(stack)}")

    join_conds, fresh = [], []
    for j, v in enumerate(vars_):
        col, ncol = rel[f"a{j}"], rel[f"__num_a{j}"]
        if v in binding:
            join_conds.append(col == binding[v])
        else:
            fresh.append((v, col, ncol))
    if plan is None:
        plan = rel
    elif join_conds:
        cond = join_conds[0]
        for c in join_conds[1:]:
            cond = cond & c
        plan = plan.join(rel, cond)
    else:
        plan = plan.crossJoin(rel)
    for v, col, ncol in fresh:
        binding[v] = col
        num_binding[v] = ncol
    return plan


import re as _re

_DB_MARK = _re.compile(r"^\$\d+$")


def _parse_in(in_vars: list, params: tuple) -> tuple[dict, list, dict]:
    """Split :in specs into scalar constants, seed relations, and extra
    database inputs. Returns (bound, seeds, dbs): seeds is
    [(vars, rows)] — collection ['?x', '...'] -> 1-col rows, tuple
    ['?a','?b'] -> one row, relation [['?a','?b']] -> many rows; dbs
    maps '$2'-style markers to datoms DataFrames (Datomic multi-db
    queries — patterns prefixed with the marker scan that db)."""
    bound: dict = {}
    seeds: list[tuple[list, list]] = []
    dbs: dict[str, DataFrame] = {}

    def claim(v):
        if not _is_var(v):
            raise DatalogError(f"bad :in var {v!r}")
        if v in bound or any(v in vs for vs, _ in seeds):
            raise DatalogError(f"duplicate :in var {v}")

    for spec, p in zip(in_vars, params):
        if spec == "$":
            raise DatalogError(
                "the primary db '$' is the positional datoms argument; "
                "list only extra dbs ($2, $3, ...) in :in"
            )
        if isinstance(spec, str) and _DB_MARK.match(spec):
            if not isinstance(p, DataFrame):
                raise DatalogError(
                    f":in db marker {spec} needs a datoms DataFrame, "
                    f"got {type(p).__name__}"
                )
            if spec in dbs:
                raise DatalogError(f"duplicate :in db marker {spec}")
            dbs[spec] = p
        elif isinstance(spec, str):
            claim(spec)
            bound[spec] = p
        elif isinstance(spec, list) and len(spec) == 2 and spec[1] == "...":
            claim(spec[0])
            seeds.append(([spec[0]], [(v,) for v in p]))
        elif (
            isinstance(spec, list)
            and len(spec) == 1
            and isinstance(spec[0], list)
        ):
            for v in spec[0]:
                claim(v)
            seeds.append((list(spec[0]), [tuple(r) for r in p]))
        elif isinstance(spec, list) and spec and all(_is_var(x) for x in spec):
            for v in spec:
                claim(v)
            seeds.append((list(spec), [tuple(p)]))
        else:
            raise DatalogError(f"unsupported :in spec {spec!r}")
    return bound, seeds, dbs


def _seed_plan(
    seeds: list, datoms: DataFrame
) -> tuple[DataFrame | None, dict, dict]:
    """Materialize :in seed relations as small broadcast DataFrames,
    cross-joined (Datomic product semantics), deduplicated (inputs are
    sets). Empty inputs yield a typed empty relation -> empty result."""
    plan: DataFrame | None = None
    binding: dict = {}
    num_binding: dict = {}
    spark = datoms.sparkSession
    _PY_DDL = {str: "string", bool: "boolean", int: "bigint", float: "double"}
    for i, (vars_, rows) in enumerate(seeds):
        cols = [f"c{j}" for j in range(len(vars_))]
        if rows:
            # mirror createDataFrame's inference (str/bool/int/float ->
            # string/boolean/bigint/double) so the relation can build as
            # a JVM LocalRelation (operators/localrel — the Python-RDD
            # scan behind createDataFrame costs a Python worker per
            # core per seed relation); mixed/exotic columns fall back
            types = [
                {type(r[j]) for r in rows if r[j] is not None}
                for j in range(len(cols))
            ]
            if all(len(t) == 1 and next(iter(t)) in _PY_DDL for t in types):
                from ..operators.localrel import local_df

                sdf = local_df(
                    spark, rows,
                    ", ".join(
                        f"{c} {_PY_DDL[next(iter(t))]}"
                        for c, t in zip(cols, types)
                    ),
                )
            else:
                sdf = spark.createDataFrame(rows, cols)
        else:
            sdf = spark.createDataFrame(
                [], ", ".join(f"{c} string" for c in cols)
            )
        rel = F.broadcast(sdf.distinct()).alias(f"in{i}")
        for v, c in zip(vars_, cols):
            col = F.col(f"in{i}.{c}")
            binding[v] = col
            num_binding[v] = col.cast("double")
        plan = rel if plan is None else plan.crossJoin(rel)
    return plan, binding, num_binding


def _compile_where(
    where: list,
    datoms: DataFrame,
    bound: dict,
    rules: dict,
    stack: tuple[str, ...] = (),
    rec_impl: dict[str, DataFrame] | None = None,
    init: tuple[DataFrame | None, dict, dict] | None = None,
    dbs: dict[str, DataFrame] | None = None,
    idx0: int = 0,
) -> tuple[DataFrame | None, dict, dict]:
    """Compile a clause list (triple patterns, predicates, rule
    invocations) to (plan, binding, num_binding). Shared by the top-level
    query and by rule bodies (which recurse here). `init` seeds the plan
    with :in input relations. `idx0` offsets clause numbering so a body
    compiled in two calls (the semi-naive prefix cache) keeps scan
    aliases p{i}_{depth} collision-free."""
    plan: DataFrame | None
    binding: dict[str, F.Column]
    num_binding: dict[str, F.Column]
    plan, binding, num_binding = init if init is not None else (None, {}, {})

    for i, pat in enumerate(where, idx0):
        if (
            len(pat) == 2
            and isinstance(pat[0], (tuple, list))
            and _is_var(pat[1])
        ):
            # function binding [(fn arg...) ?out]
            clause = list(pat[0])
            head = clause[0] if clause else None
            if head not in _FN_HEADS:
                raise DatalogError(
                    f"unsupported function {head!r} (have {sorted(_FN_HEADS)})"
                )
            plan = _apply_fn_binding(
                plan, binding, num_binding, clause, pat[1], datoms, bound, i,
                len(stack),
            )
            continue
        if (
            len(pat) == 2
            and isinstance(pat[0], (tuple, list))
            and isinstance(pat[1], (tuple, list))
        ):
            # destructured-output clause: [(fulltext ...) [[?e ?v]]] or
            # [(get-some ...) [?a ?v]]
            clause = list(pat[0])
            head = clause[0] if clause else None
            if head == "fulltext":
                plan = _apply_fulltext(
                    plan, binding, num_binding, clause, pat[1], datoms, bound,
                    i, len(stack),
                )
            elif head == "get-some":
                args = [
                    bound.get(x, x) if _is_var(x) else x for x in clause[1:]
                ]
                plan = _apply_get_some(
                    plan, binding, num_binding, args, list(pat[1]), datoms,
                    i, len(stack),
                )
            elif head == "untuple":
                # [(untuple ?t) [?a ?b ...]] — Datomic's vector
                # destructuring: bind each output var to the tuple's
                # positional element (1-based element_at; out-of-range
                # yields null, like destructuring a short vector)
                a = clause[1:]
                if len(a) != 1 or not _is_var(a[0]) or a[0] not in binding:
                    raise DatalogError(
                        f"(untuple ?t) needs one bound tuple var: {clause}"
                    )
                outs = list(pat[1])
                if not outs or not all(_is_var(x) for x in outs):
                    raise DatalogError(
                        f"(untuple ?t) output must destructure vars: {pat[1]}"
                    )
                src_col = binding[a[0]]
                for j, o in enumerate(outs):
                    if o in binding:
                        raise DatalogError(
                            f"function output var {o} is already bound"
                        )
                    # F.get is null-safe out of range (ANSI element_at
                    # would throw on destructuring a short vector);
                    # try_cast degrades non-numeric elements to null,
                    # matching eav.py's v_num convention under ANSI mode
                    el = F.get(src_col, j)
                    binding[o] = el
                    num_binding[o] = el.try_cast("double")
            elif head == "tx-ids":
                plan = _apply_tx_ids(
                    plan, binding, num_binding, clause, pat[1], bound, i,
                    len(stack),
                )
            elif head == "tx-data":
                plan = _apply_tx_data(
                    plan, binding, num_binding, clause, pat[1], bound, i,
                    len(stack),
                )
            else:
                raise DatalogError(
                    f"unsupported destructuring function {head!r} "
                    f"(have: fulltext, get-some, untuple, tx-ids, tx-data)"
                )
            continue
        if len(pat) == 1 and isinstance(pat[0], (tuple, list)):
            clause = list(pat[0])
            head = clause[0] if clause else None
            if head in _PRED_OPS:
                # predicate clause [(op lhs rhs)] -> .where on the plan
                if plan is None:
                    raise DatalogError(f"predicate clause before any pattern: {pat}")
                plan = plan.where(
                    _compile_predicate(clause, binding, num_binding, bound)
                )
            elif (
                isinstance(head, str)
                and head.rsplit("/", 1)[-1] in _STR_PRED_SHORT
            ):
                if plan is None:
                    raise DatalogError(f"predicate clause before any pattern: {pat}")
                plan = plan.where(
                    _compile_str_predicate(clause, binding, bound)
                )
            elif head == "not":
                plan = _apply_not(
                    plan, binding, clause[1:], datoms, bound, rules, stack,
                    rec_impl, dbs=dbs,
                )
            elif head == "not-join":
                if len(clause) < 3 or not isinstance(clause[1], list):
                    raise DatalogError(
                        f"(not-join [vars] clause+) needs a var vector: {clause}"
                    )
                plan = _apply_not(
                    plan, binding, clause[2:], datoms, bound, rules, stack,
                    rec_impl, join_vars=clause[1], dbs=dbs,
                )
            elif head == "or":
                plan = _apply_or(
                    plan, binding, num_binding, clause[1:], datoms, bound,
                    rules, stack, i, rec_impl, dbs=dbs,
                )
            elif head == "or-join":
                if len(clause) < 3 or not isinstance(clause[1], list):
                    raise DatalogError(
                        f"(or-join [vars] leg+) needs a var vector: {clause}"
                    )
                plan = _apply_or(
                    plan, binding, num_binding, clause[2:], datoms, bound,
                    rules, stack, i, rec_impl, join_vars=clause[1], dbs=dbs,
                )
            elif head == "missing?":
                a = clause[1:]
                if a and a[0] == "$":
                    a = a[1:]
                if len(a) != 2:
                    raise DatalogError(
                        f"(missing? ?e :attr) expects entity var + attr: {clause}"
                    )
                evar, attr = a
                if plan is None or evar not in binding:
                    raise DatalogError(f"(missing? ...) entity var {evar} must be bound")
                if _is_var(attr):
                    raise DatalogError("(missing? ...) attr must be a constant")
                sub = datoms.where(F.col("a") == attr).select(
                    F.col("e").alias(f"__miss{i}_e")
                )
                plan = plan.join(
                    sub, binding[evar] == F.col(f"__miss{i}_e"), "left_anti"
                )
            elif isinstance(head, str) and head in rules:
                plan = _apply_rule(
                    plan, binding, num_binding, clause, datoms, bound,
                    rules, stack, i, rec_impl, dbs=dbs,
                )
            else:
                raise DatalogError(
                    f"unsupported predicate op or unknown rule {head!r} "
                    f"(ops: {sorted(_PRED_OPS)}; rules: {sorted(rules)})"
                )
            continue
        src = None
        if (
            len(pat) >= 4
            and isinstance(pat[0], str)
            and _DB_MARK.match(pat[0])
        ):
            # [$2 e a v ...] — pattern scoped to an extra :in database
            # (Datomic multi-db queries, e.g. as-of vs current joins);
            # the db map flows into rule/not/or sub-compilations too.
            src, pat = pat[0], list(pat[1:])
        if len(pat) == 2:
            # [e a] — attribute-presence pattern (explore_db.clj:16
            # [?e :db/unique]); value position is an implicit wildcard
            terms = [pat[0], pat[1], "_"]
        elif 3 <= len(pat) <= 5:
            # [e a v], or the HISTORY-db shapes [e a v tx] /
            # [e a v tx op] — Datomic lets patterns bind the transaction
            # and the assert/retract flag when querying a history view
            # (a datoms frame carrying tx/added columns, e.g.
            # history.log_datoms)
            terms = list(pat)
        else:
            raise DatalogError(
                f"pattern must be [e a], [e a v], [e a v tx] or "
                f"[e a v tx op]: {pat}"
            )
        base = datoms
        if src is not None:
            if not dbs or src not in dbs:
                raise DatalogError(
                    f"unknown db marker {src!r} — declare it in :in and "
                    f"pass a datoms DataFrame"
                )
            base = dbs[src]
        if len(terms) > 3 and "tx" not in base.columns:
            raise DatalogError(
                f"pattern {pat} binds a tx/op position but the datoms "
                "frame has no tx column — query a history/log view "
                "(history.log_datoms)"
            )
        alias = f"p{i}_{len(stack)}"
        scan = base.alias(alias)
        cols = {"e": F.col(f"{alias}.e"), "a": F.col(f"{alias}.a"),
                "v": F.col(f"{alias}.v"), "v_num": F.col(f"{alias}.v_num"),
                "tx": F.col(f"{alias}.tx"), "added": F.col(f"{alias}.added")}

        filters = []
        join_conds = []
        positions = ["e", "a", "v", "tx", "added"][: len(terms)]
        for pos, term in zip(positions, terms):
            if term == "_" or term is None:
                continue
            if _is_var(term) and term in bound:
                if isinstance(bound[term], DataFrame):
                    raise DatalogError(
                        f"log-valued :in param {term} can only feed the log "
                        f"functions (tx-ids ?log ...) / (tx-data ?log ...), "
                        f"not a {pos!r} pattern position"
                    )
                term = bound[term]  # :in param substitution -> constant
            if _is_var(term):
                if term in binding:
                    join_conds.append(cols[pos] == binding[term])
                else:
                    binding[term] = cols[pos]
                    if pos == "v":
                        num_binding[term] = cols["v_num"]
                    elif pos == "tx":
                        num_binding[term] = cols["tx"].cast("double")
            else:
                filters.append(cols[pos] == F.lit(term))

        for f in filters:
            scan = scan.where(f)

        if plan is None:
            if join_conds:
                raise DatalogError("first pattern cannot self-reference")
            plan = scan
        elif join_conds:
            cond = join_conds[0]
            for c in join_conds[1:]:
                cond = cond & c
            plan = plan.join(scan, cond)
        else:
            plan = plan.crossJoin(scan)  # cartesian — legal datalog, rare
    return plan, binding, num_binding


def q(query: dict, datoms: DataFrame, *params) -> DataFrame:
    """Run a datalog-lite query against a datoms(e,a,v,v_num) view.

    Output columns: plain find-vars keep their name sans '?'
    (`?name` -> `name`); aggregates are named `{agg}_{var}`
    (`(count ?c)` -> `count_c`) — stable, oracle-friendly aliases.

    `query["rules"]` supplies rule definitions (the :in % analog):
    [[("rule-name", "?a", "?b"), clause, ...], ...]; invoke in :where as
    [("rule-name", term, term)]. Multiple defs of one name union
    (Datomic OR semantics); recursive rules — direct AND mutual — run
    to a stratified semi-naive fixpoint; recursion through negation
    raises.
    """
    where = query.get("where") or []
    find = query.get("find") or []
    in_vars = query.get("in") or []
    if not where or not find:
        raise DatalogError("query needs :find and :where")
    if len(in_vars) != len(params):
        raise DatalogError(f":in arity {len(in_vars)} != {len(params)} params")
    bound, seeds, dbs = _parse_in(in_vars, params)
    rules = _parse_rules(query.get("rules") or [])

    init = _seed_plan(seeds, datoms) if seeds else None
    plan, binding, num_binding = _compile_where(
        where, datoms, bound, rules, init=init, dbs=dbs
    )

    # :find projection — Datomic SET semantics: the bound relation is
    # deduplicated over (find vars + :with vars) BEFORE aggregation, so
    # each distinct tuple contributes once; :with vars keep duplicates
    # that differ only in those vars (e.g. per-entity contributions to a
    # sum), then drop out of the output.
    assert plan is not None
    plain_names: list[str] = []
    agg_specs: list[tuple[str, str, str]] = []  # (agg, operand_alias, out_name)
    sel_cols: list[F.Column] = []
    out_order: list[str] = []
    pull_specs: list[tuple[str, dict]] = []  # (entity var name, spec)
    for k, term in enumerate(find):
        if isinstance(term, (tuple, list)) and term and term[0] == "pull":
            # (pull ?e {out_col: attr-spec, ...}) — Datomic's pull
            # expression inside :find. Compiles to a LEFT join of the
            # bound relation's distinct entities against the columnar
            # pull projection (plans/pull.py): one groupBy(e) for K
            # attrs, one equi-join — never a per-entity walk.
            if len(term) != 3 or not isinstance(term[2], dict):
                raise DatalogError(f"pull term needs (pull ?var spec-dict): {term}")
            _, var, spec = term
            if var not in binding:
                raise DatalogError(f"unbound pull var {var}")
            vn = _var_name(var)
            if vn not in plain_names:
                sel_cols.append(binding[var].alias(vn))
                plain_names.append(vn)
                out_order.append(vn)
            pull_specs.append((vn, spec))
            out_order.extend(spec.keys())
            continue
        if isinstance(term, (tuple, list)):
            if len(term) == 3:
                # n-ary (min n ?x) / (max n ?x) / (sample n ?x): bounded
                # collections (Datomic's bounded aggregates). sample is
                # DETERMINISTIC here — the n distinct values with the
                # smallest md5 of their string form, emitted value-sorted
                # — a reproducible pseudo-random subset (Datomic's is
                # unspecified-random; determinism is what makes the
                # result oracle-checkable and re-run-stable)
                agg, n_bound, var = term
                if agg not in ("min", "max", "sample"):
                    raise DatalogError(
                        f"only (min n ?x)/(max n ?x)/(sample n ?x) take a bound: {term}"
                    )
                if not isinstance(n_bound, int) or n_bound < 1:
                    raise DatalogError(f"aggregate bound must be a positive int: {term}")
                agg = f"{agg}-{n_bound}"
            else:
                agg, var = term
            base = agg.split("-")[0] if agg[-1].isdigit() else agg
            if agg not in AGGS and base not in ("min", "max", "sample"):
                raise DatalogError(f"unsupported aggregate {agg}")
            if var not in binding:
                raise DatalogError(f"unbound aggregate var {var}")
            name = f"{agg.replace('-', '_')}_{_var_name(var)}"
            al = f"__agg{k}"
            if base == "sample":
                sel_cols.append(binding[var].alias(al))
                agg_specs.append((agg, al, name))
                out_order.append(name)
                continue
            if agg in _NUM_AGGS or base in ("min", "max"):
                ncol = num_binding.get(var)
                if ncol is None:
                    raise DatalogError(f"aggregate {agg} needs a value var: {var}")
                sel_cols.append(ncol.alias(al))
            else:
                sel_cols.append(binding[var].alias(al))
            agg_specs.append((agg, al, name))
            out_order.append(name)
        else:
            if term not in binding:
                raise DatalogError(f"unbound find var {term}")
            sel_cols.append(binding[term].alias(_var_name(term)))
            plain_names.append(_var_name(term))
            out_order.append(_var_name(term))

    if agg_specs:
        for k, w in enumerate(query.get("with") or []):
            if w not in binding:
                raise DatalogError(f"unbound :with var {w}")
            sel_cols.append(binding[w].alias(f"__with{k}"))
        tuples = plan.select(*sel_cols).distinct()
        agg_cols = []
        for agg, al, name in agg_specs:
            col = F.col(al)
            if agg == "count":
                agg_cols.append(F.count(col).alias(name))
            elif agg == "count-distinct":
                agg_cols.append(F.countDistinct(col).alias(name))
            elif agg == "distinct":
                agg_cols.append(F.sort_array(F.collect_set(col)).alias(name))
            elif agg in ("min-str", "max-str"):
                fn = F.min if agg == "min-str" else F.max
                agg_cols.append(fn(col).alias(name))
            elif "-" in agg and agg.split("-")[0] in ("min", "max"):
                base, n_s = agg.rsplit("-", 1)
                arr = F.sort_array(F.collect_set(col), asc=(base == "min"))
                agg_cols.append(F.slice(arr, 1, int(n_s)).alias(name))
            elif "-" in agg and agg.split("-")[0] == "sample":
                n_s = int(agg.rsplit("-", 1)[1])
                pairs = F.sort_array(F.collect_set(F.struct(
                    F.md5(col.cast("string")).alias("h"), col.alias("x"),
                )))
                picked = F.slice(pairs, 1, n_s)
                agg_cols.append(
                    F.array_sort(F.transform(picked, lambda s: s["x"])).alias(name)
                )
            else:  # sum min max avg median variance stddev (numeric)
                agg_cols.append(getattr(F, agg)(col).alias(name))
        out = (
            tuples.groupBy(*plain_names).agg(*agg_cols)
            if plain_names
            else tuples.agg(*agg_cols)
        )
    else:
        out = plan.select(*sel_cols).distinct()  # datalog returns a set

    if pull_specs:
        if agg_specs:
            raise DatalogError("pull expressions cannot combine with aggregates")
        from .pull import pull_entities

        for vn, spec in pull_specs:
            pulled = pull_entities(datoms, spec).withColumnRenamed("e", vn)
            out = out.join(pulled, vn, "left")

    keys = query.get("keys")
    if keys is not None:
        # :keys / :syms / :strs — positional result-map names for the
        # find terms (Datomic returns maps keyed by them; columnar
        # results make them column renames)
        if pull_specs:
            raise DatalogError(":keys cannot combine with pull expressions")
        if len(keys) != len(out_order):
            raise DatalogError(
                f":keys arity {len(keys)} != :find arity {len(out_order)}"
            )
        out = out.select(
            *[F.col(c).alias(str(k)) for c, k in zip(out_order, keys)]
        )
    else:
        out = out.select(*out_order)
    offset = query.get("offset")
    limit = query.get("limit")
    if offset is not None and offset >= 0:
        # Datomic's client :offset pages the result seq in an
        # unspecified order; a distributed engine must pin one to be
        # reproducible — lexicographic over the output columns (so
        # offset+limit together form stable pages; declaring :offset 0
        # likewise pins page 1's content, not just its size)
        out = out.orderBy(*[F.col(c) for c in out.columns]).offset(offset)
    if limit is not None and limit >= 0:
        out = out.limit(limit)
    return out
