"""Seeded synthetic mbrainz corpus (FIXTURES.md §1-§5) and its ground truth.

`make_corpus(seed, scale)` returns a `Corpus`: the EDN entity files as text
(all seven entity types plus schema, enums and the three super-enums) and
a plain-Python model of the tables the importer should produce from them.
The model is what the benchmark checks the program's outputs against: row
and batch counts per type, and the answers to the query mix, computed here
without Spark.

Shape, as the fixtures describe it:
- every foreign key resolves (releases -> labels/areleases, links -> both
  ends, media -> releases and artists);
- about 40% of optional keys are absent (absent, never nil);
- media rows are one row per track, consecutive per medium id, and a
  multi-artist track repeats its (id, tracknum) row once per artist.

Entity counts are fixed by `scale` (a fraction of the reference subset's
counts); the seed only changes content, so run time does not depend on it.
"""

from __future__ import annotations

import math
import os
import random
import uuid
from dataclasses import dataclass, field

# reference-subset row counts (FIXTURES.md §1)
REF_COUNTS = {
    "artists": 4600,
    "labels": 1200,
    "areleases": 10200,
    "releases": 11500,
    "releases-artists": 11800,
    "areleases-artists": 10500,
}
MEDIA_PER_RELEASE = 2
TRACKS_PER_MEDIUM = (5, 15)
MULTI_ARTIST_SHARE = 0.1
ABSENT = 0.4
BATCH_SIZE = 100

ENUMS = {
    "gender": ["Male", "Female", "Other"],
    "artist_type": ["Person", "Group", "Other"],
    "release_group_type": ["Album", "Single", "EP", "Audiobook", "Other"],
    "release_packaging": [
        "Jewel Case", "Slim Jewel Case", "Digipak", "Cardboard/Paper Sleeve",
        "Other", "Keep Case", "None",
    ],
    "medium_format": [
        "CD", "DVD", "SACD", "DualDisc", "LaserDisc", "MiniDisc", "Vinyl",
        "Cassette", "Cartridge", "Reel-to-reel", "DAT", "Digital Media",
        "Other", "Wax Cylinder", "Piano Roll", "DCC", "HD-DVD", "DVD-Audio",
        "DVD-Video", "VCD", "SVCD", "UMD", "VHS", "7\" Vinyl", "10\" Vinyl",
        "12\" Vinyl", "CD-R", "8cm CD", "Blu-ray", "HDCD", "USB Flash Drive",
        "slotMusic", "Betamax", "Copy Control CD",
    ],
    "label_type": [
        "Distributor", "Holding", "Production", "Original Production",
        "Bootleg Production", "Reissue Production", "Publisher",
    ],
}
ENUM_NS = {
    "gender": "artist.gender",
    "artist_type": "artist.type",
    "release_group_type": "release.type",
    "release_packaging": "release.packaging",
    "medium_format": "medium.format",
    "label_type": "label.type",
}
N_SUPER = {"countries": 40, "langs": 60, "scripts": 20}
SUPER_NS = {"countries": "country", "langs": "language", "scripts": "script"}
SUPER_CODE_LEN = {"countries": 2, "langs": 3, "scripts": 4}
SUPER_FILE = {"countries": "countries.edn", "langs": "langs.edn", "scripts": "scripts.edn"}

_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_WORDS = (
    "night day blue red river stone glass echo storm light shadow gold "
    "silver fire ice wind heart dream city road song moon sun star sea "
    "field garden mirror paper iron velvet thunder"
).split()


def enum_ident(enum_type: str, value: str) -> str:
    slug = "".join(c if c.isalnum() else "-" for c in value.lower())
    return f":{ENUM_NS[enum_type]}/{slug}"


def _edn_str(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _edn_map(d: dict) -> str:
    parts = []
    for k, v in d.items():
        parts.append(f":{k} " + (_edn_str(v) if isinstance(v, str) else str(int(v))))
    return "{" + " ".join(parts) + "}"


@dataclass
class Corpus:
    files: dict[str, str] = field(default_factory=dict)  # entities/<name> -> text
    # plain-Python model of the metaschema tables (transformed rows)
    artist: dict[str, dict] = field(default_factory=dict)
    label: dict[str, dict] = field(default_factory=dict)
    arelease: dict[str, dict] = field(default_factory=dict)
    release: dict[str, dict] = field(default_factory=dict)
    release_artists: set[tuple[str, str]] = field(default_factory=set)
    arelease_artists: set[tuple[str, str]] = field(default_factory=set)
    medium: dict[int, dict] = field(default_factory=dict)
    track: dict[str, dict] = field(default_factory=dict)  # "<medium>-<pos>"
    input_rows: dict[str, int] = field(default_factory=dict)
    loaded_rows: dict[str, int] = field(default_factory=dict)
    dim_rows: dict[str, int] = field(default_factory=dict)

    def batches(self, type_name: str) -> int:
        return math.ceil(self.loaded_rows[type_name] / BATCH_SIZE)

    @property
    def total_input_rows(self) -> int:
        return sum(self.input_rows.values())

    def write(self, basedir: str) -> None:
        ent = os.path.join(basedir, "entities")
        os.makedirs(ent, exist_ok=True)
        for name, text in self.files.items():
            with open(os.path.join(ent, name), "w", encoding="utf-8") as fh:
                fh.write(text)


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _title(rng: random.Random, i: int) -> str:
    # unique by construction (the index), so name-keyed answers are exact
    words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 3)))
    return f"{words.title()} {i}"


def _opt(rng: random.Random) -> bool:
    return rng.random() >= ABSENT


def _super_enums(rng: random.Random) -> tuple[dict[str, list[str]], dict[str, str]]:
    codes: dict[str, list[str]] = {}
    files: dict[str, str] = {}
    for table, n in N_SUPER.items():
        width = SUPER_CODE_LEN[table]
        seen: set[str] = set()
        while len(seen) < n:
            code = "".join(rng.choice(_LETTERS) for _ in range(width))
            seen.add(code.upper() if table == "countries" else code)
        codes[table] = sorted(seen)
        ns = SUPER_NS[table]
        body = " ".join(
            f'{_edn_str(c)} {{:db/ident :{ns}/{c} :{ns}/name {_edn_str(ns + " " + c)}}}'
            for c in codes[table]
        )
        files[SUPER_FILE[table]] = "{" + body + "}\n"
    return codes, files


def _enums_file() -> str:
    body = " ".join(
        f"{et} {{" + " ".join(f"{_edn_str(v)} {enum_ident(et, v)}" for v in vals) + "}"
        for et, vals in ENUMS.items()
    )
    return "{" + body + "}\n"


SCHEMA_ATTRS = [
    (":artist/gid", ":db.type/uuid"), (":artist/name", ":db.type/string"),
    (":release/gid", ":db.type/uuid"), (":release/name", ":db.type/string"),
    (":label/gid", ":db.type/uuid"), (":medium/format", ":db.type/ref"),
    (":track/duration", ":db.type/long"),
]


def _schema_file() -> str:
    maps = " ".join(
        f"{{:db/ident {a} :db/valueType {t} :db/cardinality :db.cardinality/one}}"
        for a, t in SCHEMA_ATTRS
    )
    return f"[{maps}]\n"


def _date(rng: random.Random, ent: dict, prefix: str) -> None:
    ent[f"{prefix}_year"] = rng.randint(1900, 2020)
    if rng.random() < 0.6:
        ent[f"{prefix}_month"] = rng.randint(1, 12)
        if rng.random() < 0.6:
            ent[f"{prefix}_day"] = rng.randint(1, 31)


def make_corpus(seed: int, scale: float) -> Corpus:
    rng = random.Random(seed)
    c = Corpus()
    n = {k: max(1, round(v * scale)) for k, v in REF_COUNTS.items()}
    supers, super_files = _super_enums(rng)
    countries = [f":country/{x}" for x in supers["countries"]]
    c.files.update(super_files)
    c.files["enums.edn"] = _enums_file()
    c.files["schema.edn"] = _schema_file()
    c.dim_rows = {
        "schema": len(SCHEMA_ATTRS),
        "enums": sum(len(v) for v in ENUMS.values()),
        "super-enums": sum(N_SUPER.values()),
    }

    def country(code_ident: str) -> str:
        return code_ident.split("/", 1)[1]

    # artists (startMonth/startDay are dropped by the transform: QUIRK 1)
    lines = []
    for i in range(n["artists"]):
        ent = {"gid": _uuid(rng), "name": f"Artist {_title(rng, i)}"}
        ent["sortname"] = ent["name"].upper()
        row = {"gid": ent["gid"], "name": ent["name"], "sortName": ent["sortname"]}
        if _opt(rng):
            ent["type"] = rng.choice(ENUMS["artist_type"])
            row["type"] = enum_ident("artist_type", ent["type"])
        if _opt(rng):
            ent["gender"] = rng.choice(ENUMS["gender"])
            row["gender"] = enum_ident("gender", ent["gender"])
        if _opt(rng):
            ci = rng.choice(countries)
            ent["country"] = country(ci)
            row["country"] = ci
        if _opt(rng):
            _date(rng, ent, "begin_date")
            row["startYear"] = ent["begin_date_year"]
        if _opt(rng):
            _date(rng, ent, "end_date")
            row["endYear"] = ent["end_date_year"]
            for part, col in (("month", "endMonth"), ("day", "endDay")):
                if f"end_date_{part}" in ent:
                    row[col] = ent[f"end_date_{part}"]
        lines.append(_edn_map(ent))
        c.artist[ent["gid"]] = row
    c.files["artists.edn"] = "\n".join(lines) + "\n"
    artist_gids = list(c.artist)

    # labels
    lines = []
    for i in range(n["labels"]):
        ent = {"gid": _uuid(rng), "name": f"Label {_title(rng, i)}"}
        row = {"gid": ent["gid"], "name": ent["name"]}
        if _opt(rng):
            ent["sort_name"] = ent["name"].lower()
            row["sortName"] = ent["sort_name"]
        if _opt(rng):
            ent["type"] = rng.choice(ENUMS["label_type"])
            row["type"] = enum_ident("label_type", ent["type"])
        if _opt(rng):
            ci = rng.choice(countries)
            ent["country"] = country(ci)
            row["country"] = ci
        if _opt(rng):
            _date(rng, ent, "begin_date")
            for part, col in (("year", "startYear"), ("month", "startMonth"), ("day", "startDay")):
                if f"begin_date_{part}" in ent:
                    row[col] = ent[f"begin_date_{part}"]
        lines.append(_edn_map(ent))
        c.label[ent["gid"]] = row
    c.files["labels.edn"] = "\n".join(lines) + "\n"
    label_gids = list(c.label)

    # abstract releases
    lines = []
    for i in range(n["areleases"]):
        ent = {"gid": _uuid(rng), "name": f"Group {_title(rng, i)}",
               "artist_credit": f"Credit {i}"}
        row = {"gid": ent["gid"], "name": ent["name"], "artistCredit": ent["artist_credit"]}
        if _opt(rng):
            ent["type"] = rng.choice(ENUMS["release_group_type"])
            row["type"] = enum_ident("release_group_type", ent["type"])
        lines.append(_edn_map(ent))
        c.arelease[ent["gid"]] = row
    c.files["areleases.edn"] = "\n".join(lines) + "\n"
    arelease_gids = list(c.arelease)

    # releases
    lines = []
    for i in range(n["releases"]):
        ent = {"gid": _uuid(rng), "name": f"Release {_title(rng, i)}",
               "release_group": rng.choice(arelease_gids)}
        row = {"gid": ent["gid"], "name": ent["name"],
               "abstractRelease_gid": ent["release_group"]}
        if _opt(rng):
            ent["artist_credit"] = f"Credit {rng.randrange(n['areleases'])}"
            row["artistCredit"] = ent["artist_credit"]
        if _opt(rng):
            ent["label"] = rng.choice(label_gids)
            row["labels_gid"] = ent["label"]
        if _opt(rng):
            ent["packaging"] = rng.choice(ENUMS["release_packaging"])
            row["packaging"] = enum_ident("release_packaging", ent["packaging"])
        if _opt(rng):
            ent["status"] = rng.choice(["Official", "Promotion", "Bootleg"])
            row["status"] = ent["status"]
        if _opt(rng):
            ci = rng.choice(countries)
            ent["country"] = country(ci)
            row["country"] = ci
        if _opt(rng):
            code = rng.choice(supers["langs"])
            ent["language"] = code
            row["language"] = f":language/{code}"
        if _opt(rng):
            code = rng.choice(supers["scripts"])
            ent["script"] = code
            row["script"] = f":script/{code}"
        if _opt(rng):
            ent["barcode"] = str(rng.randrange(10**11, 10**12))
            row["barcode"] = ent["barcode"]
        if _opt(rng):
            ent["date_year"] = rng.randint(1950, 2020)
            row["year"] = ent["date_year"]
            if rng.random() < 0.6:
                ent["date_month"] = rng.randint(1, 12)
                row["month"] = ent["date_month"]
        if _opt(rng):
            ent["acid"] = rng.randrange(1, 10**6)
        lines.append(_edn_map(ent))
        c.release[ent["gid"]] = row
    c.files["releases.edn"] = "\n".join(lines) + "\n"
    release_gids = list(c.release)

    # link tables: distinct pairs, every end resolves
    def pairs(n_pairs: int, left: list[str]) -> list[tuple[str, str]]:
        out: set[tuple[str, str]] = set()
        while len(out) < n_pairs:
            out.add((rng.choice(left), rng.choice(artist_gids)))
        ordered = sorted(out)
        rng.shuffle(ordered)
        return ordered

    ra = pairs(n["releases-artists"], release_gids)
    c.release_artists = set(ra)
    c.files["releases-artists.edn"] = "\n".join(
        _edn_map({"release": r, "artist": a}) for r, a in ra
    ) + "\n"
    ara = pairs(n["areleases-artists"], arelease_gids)
    c.arelease_artists = set(ara)
    c.files["areleases-artists.edn"] = "\n".join(
        _edn_map({"release_group": r, "artist": a}) for r, a in ara
    ) + "\n"

    # media: one row per track, clustered by medium id
    lines = []
    mid = 0
    for rel in release_gids:
        for pos in range(1, MEDIA_PER_RELEASE + 1):
            mid += 1
            n_tracks = rng.randint(*TRACKS_PER_MEDIUM)
            head = {"id": mid, "release": rel, "position": pos, "track_count": n_tracks}
            med = {"id": mid, "release_gid": rel, "position": pos, "trackCount": n_tracks}
            if _opt(rng):
                fmt = rng.choice(ENUMS["medium_format"])
                head["format"] = fmt
                med["format"] = enum_ident("medium_format", fmt)
            c.medium[mid] = med
            for tn in range(1, n_tracks + 1):
                name = f"Track {_title(rng, tn)}"
                length = rng.randint(60_000, 600_000) if _opt(rng) else None
                n_art = 2 if rng.random() < MULTI_ARTIST_SHARE else 1
                arts = rng.sample(artist_gids, n_art)
                for a in arts:
                    ent = dict(head, name=name, tracknum=tn, artist=a)
                    if length is not None:
                        ent["length"] = length
                    lines.append(_edn_map(ent))
                trk = {"medium": mid, "position": tn, "name": name,
                       "artists": sorted(arts)}
                if length is not None:
                    trk["duration"] = length
                c.track[f"{mid}-{tn}"] = trk
    c.files["media.edn"] = "\n".join(lines) + "\n"

    for t in ("artists", "labels", "areleases", "releases",
              "releases-artists", "areleases-artists", "media"):
        c.input_rows[t] = c.files[f"{t}.edn"].count("\n")
    c.loaded_rows = dict(c.input_rows)
    c.loaded_rows["media"] = len(c.medium)
    return c

