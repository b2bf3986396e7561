"""The serve workload's query mix: verbatim EDN queries plus a pull, each
with its answer computed in pure Python from the corpus model.

Every query runs over the attribute-partitioned datom store that
`store_tables` describes: one entity table per metaschema table, flat
columns only, entity id `"<table>:<id>"` and attribute `":<table>/<col>"`.
Answers compare as sets of tuples (Datomic find results are sets); values
are normalised to strings, and numbers to their canonical integer text.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass

from corpus import Corpus

# table -> (id column, [(column, arrow type)])
STORE_TABLES = {
    "artist": ("gid", [
        ("gid", "string"), ("name", "string"), ("sortName", "string"),
        ("type", "string"), ("gender", "string"), ("country", "string"),
        ("startYear", "int64"), ("endYear", "int64"), ("endMonth", "int64"),
        ("endDay", "int64"),
    ]),
    "label": ("gid", [
        ("gid", "string"), ("name", "string"), ("sortName", "string"),
        ("type", "string"), ("country", "string"), ("startYear", "int64"),
        ("startMonth", "int64"), ("startDay", "int64"),
    ]),
    "abstract_release": ("gid", [
        ("gid", "string"), ("name", "string"), ("artistCredit", "string"),
        ("type", "string"),
    ]),
    "release": ("gid", [
        ("gid", "string"), ("name", "string"), ("artistCredit", "string"),
        ("labels_gid", "string"), ("packaging", "string"), ("status", "string"),
        ("country", "string"), ("language", "string"), ("script", "string"),
        ("barcode", "string"), ("year", "int64"), ("month", "int64"),
        ("abstractRelease_gid", "string"),
    ]),
    "release_artists": ("id", [
        ("id", "string"), ("release_gid", "string"), ("artist_gid", "string"),
    ]),
    "medium": ("id", [
        ("id", "int64"), ("release_gid", "string"), ("position", "int64"),
        ("trackCount", "int64"), ("format", "string"),
    ]),
    "track": ("id", [
        ("id", "string"), ("medium", "int64"), ("position", "int64"),
        ("name", "string"), ("duration", "int64"),
    ]),
}


def store_rows(c: Corpus) -> dict[str, list[dict]]:
    """Rows of every store table, as the import's metaschema tables hold
    them (the import workload checks that correspondence)."""
    return {
        "artist": list(c.artist.values()),
        "label": list(c.label.values()),
        "abstract_release": list(c.arelease.values()),
        "release": list(c.release.values()),
        "release_artists": [
            {"id": f"{r}/{a}", "release_gid": r, "artist_gid": a}
            for r, a in sorted(c.release_artists)
        ],
        "medium": [
            {k: m.get(k) for k in ("id", "release_gid", "position", "trackCount", "format")}
            for m in c.medium.values()
        ],
        "track": [
            {"id": tid, "medium": t["medium"], "position": t["position"],
             "name": t["name"], "duration": t.get("duration")}
            for tid, t in c.track.items()
        ],
    }


def norm(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


@dataclass
class Query:
    kind: str
    text: str | None  # EDN text; None for the pull
    params: tuple
    expected: set
    pull_spec: dict | None = None


KINDS = ["lookup", "aggregate", "fk_join", "range", "negation", "join_aggregate", "pull"]

Q_LOOKUP = """[:find ?name ?sort :in $ ?gid
  :where [?a :artist/gid ?gid] [?a :artist/name ?name] [?a :artist/sortName ?sort]]"""
Q_AGGREGATE = """[:find ?f (count ?m) :where [?m :medium/format ?f]]"""
Q_FK_JOIN = """[:find ?rname ?lname :in $ ?country
  :where [?l :label/country ?country] [?l :label/gid ?lg]
         [?r :release/labels_gid ?lg] [?r :release/name ?rname]
         [?l :label/name ?lname]]"""
Q_RANGE = """[:find ?t ?d :in $ ?lo ?hi
  :where [?t :track/duration ?d] [(>= ?d ?lo)] [(< ?d ?hi)]]"""
Q_NEGATION = """[:find ?a :in $ ?type
  :where [?a :artist/type ?type] (not [?a :artist/gender _])]"""
Q_JOIN_AGGREGATE = """[:find ?aname (count ?r) :in $ ?country
  :where [?r :release/country ?country] [?r :release/gid ?rg]
         [?x :release_artists/release_gid ?rg] [?x :release_artists/artist_gid ?ag]
         [?a :artist/gid ?ag] [?a :artist/name ?aname]]"""
PULL_SPEC = {
    "name": ":release/name",
    "year": (":release/year", "num"),
    "status": ":release/status",
}
RANGE_WIDTH = 8_000


def make_query(kind: str, c: Corpus, rng: random.Random) -> Query:
    if kind == "lookup":
        gid = rng.choice(sorted(c.artist))
        a = c.artist[gid]
        return Query(kind, Q_LOOKUP, (gid,), {(a["name"], a["sortName"])})
    if kind == "aggregate":
        counts = Counter(m["format"] for m in c.medium.values() if "format" in m)
        return Query(kind, Q_AGGREGATE, (), {(f, str(n)) for f, n in counts.items()})
    if kind == "fk_join":
        country = rng.choice(sorted({l["country"] for l in c.label.values() if "country" in l}))
        exp = {
            (r["name"], c.label[r["labels_gid"]]["name"])
            for r in c.release.values()
            if "labels_gid" in r and c.label[r["labels_gid"]].get("country") == country
        }
        return Query(kind, Q_FK_JOIN, (country,), exp)
    if kind == "range":
        lo = rng.randrange(60_000, 600_000 - RANGE_WIDTH)
        hi = lo + RANGE_WIDTH
        exp = {
            (f"track:{tid}", str(t["duration"]))
            for tid, t in c.track.items()
            if "duration" in t and lo <= t["duration"] < hi
        }
        return Query(kind, Q_RANGE, (lo, hi), exp)
    if kind == "negation":
        typ = rng.choice(sorted({a["type"] for a in c.artist.values() if "type" in a}))
        exp = {
            (f"artist:{g}",) for g, a in c.artist.items()
            if a.get("type") == typ and "gender" not in a
        }
        return Query(kind, Q_NEGATION, (typ,), exp)
    if kind == "join_aggregate":
        country = rng.choice(sorted({r["country"] for r in c.release.values() if "country" in r}))
        per_artist: Counter = Counter()
        for r_gid, a_gid in c.release_artists:
            if c.release[r_gid].get("country") == country:
                per_artist[c.artist[a_gid]["name"]] += 1
        return Query(kind, Q_JOIN_AGGREGATE, (country,),
                     {(n, str(k)) for n, k in per_artist.items()})
    if kind == "pull":
        exp = {
            (f"release:{g}", r["name"], norm(r.get("year")), r.get("status"))
            for g, r in c.release.items()
        }
        return Query(kind, None, (), exp, pull_spec=PULL_SPEC)
    raise KeyError(kind)


def answer(rows, query: Query) -> set:
    """Normalise collected engine rows for comparison with `expected`."""
    if query.kind == "pull":
        return {(r["e"], norm(r["name"]), norm(r["year"]), norm(r["status"])) for r in rows}
    return {tuple(norm(v) for v in r) for r in rows}
