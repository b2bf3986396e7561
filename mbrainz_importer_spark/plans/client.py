"""Datomic client-API tail: `d/qseq`, `d/entid`, `d/ident`, `d/squuid`,
`d/basis-t`, `d/db-stats` — the small point-oriented calls around the
query engine.

Reference parity: these are the remaining entry points of the Datomic
client namespace a user of `examples/explore_db.clj` would touch that do
not yet have a named analog here (`q`, `pull`, `entity`, `datoms`,
`index-range`, `seek-datoms`, `index-pull`, `as-of`/`since`/`history`/
`with`/`tx-range`, `transact` all exist). Each call documents its scale
contract explicitly: `qseq` streams partition-at-a-time; `entid`/`ident`
are bounded point probes (the d/entity contract — interactive use, not
bulk); `basis_t`/`db_stats` are scalar/metadata aggregations.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .datalog import DatalogError, q


def qseq(query: dict, datoms: DataFrame, *params) -> Iterator:
    """`d/qseq`: the lazy face of `q` — returns an iterator of Rows
    instead of a materialized DataFrame. Spark-first: the plan is the
    SAME compiled datalog plan as `q`; `toLocalIterator` pulls result
    partitions to the driver one at a time, so consuming the first k
    rows only fetches the partitions that contain them (Datomic's
    qseq contract: results are realized lazily as the seq is consumed,
    aggregates/pull still compute eagerly per element). Memory on the
    driver is bounded by one partition, not the result set."""
    return q(query, datoms, *params).toLocalIterator()


def qseq_edn(text: str, datoms: DataFrame, *params, rules: str | None = None) -> Iterator:
    """`d/qseq` over verbatim EDN query text — the lazy face of
    `q_edn`, same bounded-driver-memory contract as `qseq`."""
    from .query_edn import q_edn

    return q_edn(text, datoms, *params, rules=rules).toLocalIterator()


def entid(datoms: DataFrame, ref) -> str | None:
    """`d/entid`: resolve an entity identifier to an entity id.

    Accepts an entity id (returned as-is, like Datomic), a lookup ref
    `[unique-attr, value]`, or an ident keyword string (resolved via a
    `:db/ident` datom — schema entities carry these, eav.schema_datoms).
    Returns None when nothing matches; raises on an ambiguous lookup ref
    (the attr is not acting unique — Datomic would reject the schema).

    Point probe contract: one filtered scan per call — partition-pruned
    to the attr's directory on materialized storage (eav.read_datoms).
    Bulk resolution belongs in a join (plans/metaschema.expand_ref)."""
    if isinstance(ref, (list, tuple)):
        if len(ref) != 2:
            raise DatalogError(f"lookup ref must be [attr value]: {ref!r}")
        attr, value = ref
        rows = (
            datoms.where((F.col("a") == attr) & (F.col("v") == str(value)))
            .select("e").limit(2).collect()
        )
        if len(rows) > 1:
            raise DatalogError(f"lookup ref {ref!r} matched multiple entities")
        return rows[0]["e"] if rows else None
    if isinstance(ref, str) and ref.startswith(":"):
        rows = (
            datoms.where((F.col("a") == ":db/ident") & (F.col("v") == ref))
            .select("e").limit(2).collect()
        )
        if len(rows) > 1:
            raise DatalogError(f"ident {ref!r} asserted on multiple entities")
        return rows[0]["e"] if rows else None
    return str(ref)


def ident(datoms: DataFrame, eid) -> str | None:
    """`d/ident`: the reverse of `entid` for idents — the `:db/ident`
    keyword of an entity, or None if it has none. Accepts an ident
    keyword (returned as-is, Datomic behavior). Same bounded point-probe
    contract as `entid`."""
    if isinstance(eid, str) and eid.startswith(":"):
        return eid
    rows = (
        datoms.where((F.col("e") == str(eid)) & (F.col("a") == ":db/ident"))
        .select("v").limit(1).collect()
    )
    return rows[0]["v"] if rows else None


def squuid(ts_col, entropy_col) -> F.Column:
    """`d/squuid`: semi-sequential UUID — Datomic's squuid puts the
    epoch-seconds in the top 32 bits so ids created close in time sort
    close in the index (B-tree locality for time-correlated inserts:
    the difference between appending to one hot page and random writes
    across the whole index — the same reason at 100 TB you want new
    entities clustering in fresh files, not scattered over every
    z-order region).

    Spark-first and DETERMINISTIC: where Datomic draws the low 64 bits
    from SecureRandom, this takes them from md5(entropy_col) — same
    index-locality property, but reproducible across runs/engines (the
    repo-wide determinism convention; sampling.py uses the same trick).
    Layout: tttttttt-rrrr-4rrr-8rrr-rrrrrrrrrrrr (version-4 bits set,
    variant 10) with t = epoch seconds of ts_col, r = md5 hex."""
    secs = F.lpad(
        F.conv(F.unix_timestamp(ts_col).cast("string"), 10, 16), 8, "0"
    )
    h = F.md5(entropy_col.cast("string"))
    return F.lower(
        F.concat_ws(
            "-",
            secs,
            F.substring(h, 1, 4),
            F.concat(F.lit("4"), F.substring(h, 5, 3)),
            F.concat(F.lit("8"), F.substring(h, 8, 3)),
            F.substring(h, 11, 12),
        )
    )


def basis_t(log: DataFrame) -> int:
    """`d/basis-t`: the database's most recent transaction id — one
    scalar aggregation over the log's tx column (max-aggregate pushes
    partial per partition; the collect is the 1-row scalar)."""
    row = log.agg(F.max("tx").alias("t")).collect()[0]
    return int(row["t"]) if row["t"] is not None else 0


def db_stats(datoms: DataFrame) -> DataFrame:
    """`d/db-stats`: datom count per attribute plus the total, as a
    frame (attr, datom_count) with attr='*' for the total — the shape
    Datomic returns as {:datoms n :attrs {attr {:count n}}}. One
    map-side-combined groupBy; O(#attrs) result."""
    per_attr = datoms.groupBy(F.col("a").alias("attr")).agg(
        F.count("*").alias("datom_count")
    )
    total = datoms.agg(
        F.lit("*").alias("attr"), F.count("*").alias("datom_count")
    )
    return per_attr.unionByName(total).orderBy("attr")


def query_stats(query: dict, datoms: DataFrame, *params) -> list[dict]:
    """`:query-stats`: per-clause row counts of the compiled datalog
    plan — Datomic's query analyzer returns `{:clauses [{:clause ...
    :rows-out n} ...]}` alongside the result; this returns
    [{"clause": ..., "rows_out": n}, ...] for each :where prefix.

    DIAGNOSTIC contract (same as Datomic's — you turn it on to debug a
    slow query, not in production paths): each prefix is compiled with
    the same compiler as `q` and counted, so the numbers are the true
    relation sizes Catalyst produced, at the cost of one count job per
    clause. Use it to find the clause ordering that explodes the
    intermediate relation, then reorder the query."""
    from .datalog import _compile_where, _parse_in, _parse_rules, _seed_plan

    where = query.get("where") or []
    in_vars = query.get("in") or []
    if len(in_vars) != len(params):
        raise DatalogError(f":in arity {len(in_vars)} != {len(params)} params")
    bound, seeds, dbs = _parse_in(in_vars, params)
    rules = _parse_rules(query.get("rules") or [])
    init = _seed_plan(seeds, datoms) if seeds else None

    out: list[dict] = []
    for i in range(1, len(where) + 1):
        plan, _, _ = _compile_where(
            where[:i], datoms, bound, rules, init=init, dbs=dbs
        )
        out.append(
            {"clause": where[i - 1], "rows_out": plan.count() if plan is not None else 0}
        )
    return out


def attribute(datoms: DataFrame, attrid) -> dict | None:
    """`d/attribute`: the metadata record of one attribute — Datomic
    returns {:id :ident :value-type :cardinality :unique :is-component
    :fulltext :no-history}; here the same map is assembled from the
    schema-as-datoms entity (eav.schema_datoms — absent flag = false,
    EAV has no nulls). `attrid` is the ident keyword (':table/col') or
    the schema entity id. Bounded point probe (one attr entity's
    datoms, <=10 rows), the interactive d/attribute contract — batch
    introspection goes through datalog over the same datoms."""
    if isinstance(attrid, str) and attrid.startswith(":"):
        ids = (
            datoms.where(
                (F.col("a") == ":db/ident") & (F.col("v") == attrid)
            )
            .select("e")
            .limit(2)
            .collect()
        )
        if not ids:
            return None
        if len(ids) > 1:
            raise DatalogError(f"ambiguous attribute ident {attrid!r}")
        eid = ids[0]["e"]
    else:
        eid = attrid
    rows = datoms.where(F.col("e") == eid).select("a", "v").collect()
    if not rows:
        return None
    vals = {r["a"]: r["v"] for r in rows}
    if ":db/ident" not in vals:
        raise DatalogError(f"entity {eid!r} is not an attribute (no :db/ident)")
    return {
        "id": eid,
        "ident": vals[":db/ident"],
        "value_type": vals.get(":db/valueType"),
        "cardinality": vals.get(":db/cardinality", ":db.cardinality/one"),
        "unique": vals.get(":db/unique"),
        "is_component": vals.get(":db/isComponent") == "true",
        "fulltext": vals.get(":db/fulltext") == "true",
        "no_history": vals.get(":db/noHistory") == "true",
        "doc": vals.get(":db/doc"),
    }


OPS_SCHEMA = "e string, a string, v string, v_num double, tx long, added boolean"


class Connection:
    """The Datomic connection lifecycle over durable storage — the one
    object a user of the reference's `(d/connect ...)` would reach for,
    tying together pieces that each exist (and are certified) on their
    own: `transact` (tx-fn expansion, plans/tx_fns.py), the append-only
    tx LOG, the current-state attribute-partitioned STORE
    (plans/eav.py), the memory-index view between indexing runs
    (current_datoms), and the background index job
    (merge_datoms_increment).

    Layout under `root`:
      log/    append-only tx ops (e, a, v, v_num, tx, added) — the
              durable history, never truncated (Datomic retains the
              log; the index is a fold of it)
      store/  current-state datoms, attribute-partitioned
      meta    last_indexed_tx high-water mark

    Contracts, stated plainly:
    - SINGLE WRITER. Datomic serializes writes through one transactor;
      so does this object — run one Connection per root for writes
      (readers are unrestricted: every view is an immutable DataFrame).
    - `db()` sees store ∪ unindexed-log-suffix (memory-index
      semantics): fresh transactions are queryable immediately, no
      indexing wait.
    - `request_index()` folds the unindexed suffix into the store —
      only touched attribute partitions rewrite — and advances the
      high-water mark. Content-idempotent; a crashed job re-runs
      safely.
    - `as_of(t)` / `history()` read the LOG (full time travel survives
      indexing, because indexing never discards the log).
    - Values are canonical strings (`v`, eav.table_datoms' formatting)
      with a numeric projection (`v_num`) — the datom-store contract.
    """

    def __init__(self, spark, root: str):
        import os

        self.spark = spark
        self.root = root
        self.log_path = os.path.join(root, "log")
        self.store_path = os.path.join(root, "store")
        self._meta_path = os.path.join(root, "meta")
        os.makedirs(root, exist_ok=True)

    # ---- log / meta plumbing -------------------------------------

    def _has_log(self) -> bool:
        import os

        return os.path.exists(os.path.join(self.log_path, "_SUCCESS")) or (
            os.path.isdir(self.log_path)
            and any(f.endswith(".parquet") for f in os.listdir(self.log_path))
        )

    def log(self) -> DataFrame:
        """The full durable tx log (d/log analog), op-shaped."""
        if not self._has_log():
            return self.spark.createDataFrame([], OPS_SCHEMA)
        return self.spark.read.schema(OPS_SCHEMA).parquet(self.log_path)

    def _last_indexed(self) -> int:
        import os

        if not os.path.exists(self._meta_path):
            return 0
        with open(self._meta_path) as fh:
            return int(fh.read().strip() or 0)

    def basis_t(self) -> int:
        """Latest transaction in the durable log (d/basis-t)."""
        return basis_t(self.log())

    # ---- write path ----------------------------------------------

    def _expand(self, tx_data: list, fns, many_attrs) -> tuple[int, DataFrame]:
        """Expand tx_data (plans/tx_fns form grammar: :db/add,
        :db/retract, :db/cas, :db.fn/retractEntity, installed fns)
        against the CURRENT db value; returns (t, the ops stamped
        tx = t = basis_t + 1). Aborts raise TxAbort."""
        from .tx_fns import transact as _transact

        t = self.basis_t() + 1
        # pseudo-log: the current view as tx-0 asserts plus the real
        # ops — what the expansion's pre-tx reads run against
        pseudo = self.db().select(
            "e", "a", "v",
            F.lit(0).cast("long").alias("tx"),
            F.lit(True).alias("added"),
        )
        extended = _transact(
            pseudo, tx_data, t, fns=fns, value_col="v", many_attrs=many_attrs
        )
        return t, extended.where(F.col("tx") == t).select(
            "e", "a", "v",
            F.col("v").try_cast("double").alias("v_num"),
            "tx", "added",
        )

    def transact(self, tx_data: list, fns=None, many_attrs=frozenset()) -> dict:
        """Expand tx_data against the current db value and append the
        ops durably. Returns {"tx", "n_ops"} — the report shape; aborts
        (TxAbort) append nothing."""
        t, ops = self._expand(tx_data, fns, many_attrs)
        ops.write.mode("append").parquet(self.log_path)
        n = self.log().where(F.col("tx") == t).count()
        return {"tx": t, "n_ops": n}

    def with_(self, tx_data: list, fns=None, many_attrs=frozenset()) -> DataFrame:
        """`d/with` — a SPECULATIVE database value: the same expansion
        as transact (cas and custom fns included, aborts raise), but
        nothing is appended; the returned frame is the would-be db()
        and the durable connection is untouched."""
        from .eav import current_datoms

        _, ops = self._expand(tx_data, fns, many_attrs)
        return current_datoms(self.db(), ops, many_attrs)

    # ---- read path -----------------------------------------------

    def db(self) -> DataFrame:
        """Current database value: store ∪ unindexed log suffix
        (memory-index semantics), datom-shaped (e, a, v, v_num)."""
        import os

        from .eav import current_datoms, read_datoms

        fresh = self.log().where(F.col("tx") > F.lit(self._last_indexed()))
        if os.path.exists(os.path.join(self.store_path, "_SUCCESS")):
            store = read_datoms(self.spark, self.store_path)
        else:
            store = self.spark.createDataFrame(
                [], "e string, a string, v string, v_num double"
            )
        return current_datoms(store, fresh)

    def as_of(self, t, many_attrs=frozenset()) -> DataFrame:
        """State at tx t, from the retained log (full time travel)."""
        from .history import as_of as _as_of

        return _as_of(self.log(), t, many_attrs, value_col="v")

    def history(self) -> DataFrame:
        """The audit view: every op ever, in log order."""
        return self.log().orderBy("tx", "e", "a")

    # ---- query front door (each delegates to the certified engine
    # over the current db value; pass a frame from as_of() to any of
    # the underlying modules for time-traveled reads) ----------------

    def q(self, query, *params) -> DataFrame:
        """Datalog over the current value (dict form or verbatim EDN
        text — the same front doors as plans/datalog and
        plans/query_edn)."""
        db = self.db()
        if isinstance(query, str):
            from .query_edn import q_edn

            return q_edn(query, db, *params)
        return q(query, db, *params)

    def pull(self, spec: dict) -> DataFrame:
        from .pull import pull_entities

        return pull_entities(self.db(), spec)

    def entity(self, eid: str, many_attrs=frozenset()):
        from .entity import entity as _entity

        return _entity(self.db(), eid, many_attrs)

    def datoms(self, index: str = "eavt", **components) -> DataFrame:
        from .eav import datoms_index

        return datoms_index(self.db(), index, **components)

    # ---- the background index job --------------------------------

    def request_index(self) -> int:
        """Fold the unindexed log suffix into the attribute-partitioned
        store (d/request-index): touched partitions only, then advance
        the high-water mark. Returns the new last-indexed tx."""
        import os

        from .eav import materialize_datoms, merge_datoms_increment

        hi = self._last_indexed()
        fresh = self.log().where(F.col("tx") > F.lit(hi))
        top = basis_t(self.log())
        if top <= hi:
            return hi
        if os.path.exists(os.path.join(self.store_path, "_SUCCESS")):
            merge_datoms_increment(self.spark, self.store_path, fresh)
        else:
            from .eav import current_datoms

            empty = self.spark.createDataFrame(
                [], "e string, a string, v string, v_num double"
            )
            materialize_datoms(current_datoms(empty, fresh), self.store_path)
        with open(self._meta_path, "w") as fh:
            fh.write(str(top))
        return top


def connect(spark, root: str) -> Connection:
    """`d/connect` — open (or create) a database rooted at `root`."""
    return Connection(spark, root)
