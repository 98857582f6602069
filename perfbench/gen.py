"""Seeded input generators. Nothing here imports the program under test:
every input is a pure function of (seed, size), written to the run
directory before any clock starts.

- ``write_tables``: the TPC-H-shaped star schema plus ``events``, with
  the column types, key ranges and value domains of the engine's
  fixture tables (FIXTURES.md). Row counts follow the fixture's
  per-scale-factor counts.
- ``Corpus``: ``documents`` text over a 30-word vocabulary, and arriving
  batches of which a share are word-perturbed near-duplicates of
  earlier documents.
- ``embeddings``: unit vectors drawn around ten class centres.
- ``CourseFeed``: one ``coursera_response_<ts>.json`` per tick, shaped as
  the reference's GraphQL response, with optional fields dropped for a
  share of entities and a share of earlier entities re-delivered.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- relational tables -------------------------------------------------------

# Rows per table at scale factor 1 (the fixture's counts at sf0.1 x 10).
ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
}
USERS_PER_SF = 15_000
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("red", "blue", "hot", "cold", "small", "large", "new", "old")
PART_NOUN = ("bolt", "ring", "gear", "rod", "plate", "anvil", "nut", "pipe")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH_DAY = np.datetime64("1970-01-01", "D")
ORDER_DAYS = (np.datetime64("1995-01-01", "D"), np.datetime64("2001-08-01", "D"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, as the fixture's prices are."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: tuple, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _days_us(days: np.ndarray) -> pa.Array:
    us = (days - EPOCH_DAY).astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n = {t: max(1, int(r * sf)) for t, r in ROWS_PER_SF.items()}
    n_users = max(1, int(USERS_PER_SF * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": _pick(rng, tuple(names), npart),
        "p_brand": _pick(rng, tuple(f"Brand#{i}" for i in range(1, 26)), npart),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0})
    no = n["orders"]
    span = int((ORDER_DAYS[1] - ORDER_DAYS[0]).astype(int))
    odays = ORDER_DAYS[0] + rng.integers(0, span + 1, no).astype("timedelta64[D]")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days_us(odays),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    lorder = rng.integers(0, no, nl, dtype=np.int64)
    ship = odays[lorder] + rng.integers(1, 122, nl).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": lorder,
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _days_us(ship)})
    ne = n["events"]
    start_us = (np.datetime64("2024-01-01", "us") - np.datetime64("1970-01-01", "us")).astype(np.int64)
    ts = start_us + np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, ne, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    return out


def write_tables(dest: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``<dest>/<table>.parquet`` for every relational table;
    returns the row count per table."""
    os.makedirs(dest, exist_ok=True)
    tables = _tables(sf, np.random.default_rng([seed, 1]))
    for name, t in tables.items():
        pq.write_table(t, os.path.join(dest, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --- documents -----------------------------------------------------------------

VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("de", "en", "en", "en", "es", "fr", "zh")


class Corpus:
    """The document stream of the dedup-index workload.

    Documents are 30 to 100 words drawn uniformly from ``VOCAB``; two
    independent documents share few 3-word shingles, so every
    near-duplicate pair is one the generator planted. A planted
    near-duplicate copies an earlier document and replaces a few of its
    words, which keeps its shingle Jaccard with the original near 0.85.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 2])
        self.texts: dict[int, str] = {}
        self.next_id = 0

    def _fresh(self) -> str:
        n = int(self.rng.integers(30, 101))
        return " ".join(VOCAB[i] for i in self.rng.integers(0, len(VOCAB), n))

    def _perturb(self, text: str) -> str:
        words = text.split(" ")
        for _ in range(max(1, len(words) // 60)):
            words[int(self.rng.integers(0, len(words)))] = VOCAB[int(self.rng.integers(0, len(VOCAB)))]
        return " ".join(words)

    def batch(self, n: int, dup_share: float) -> list[tuple[int, str]]:
        """``n`` new documents; about ``dup_share`` of them perturb a
        document issued earlier."""
        earlier = list(self.texts)
        out = []
        for _ in range(n):
            if earlier and self.rng.random() < dup_share:
                text = self._perturb(self.texts[earlier[int(self.rng.integers(0, len(earlier)))]])
            else:
                text = self._fresh()
            out.append((self.next_id, text))
            self.next_id += 1
        self.texts.update(out)
        return out

    def write(self, docs: list[tuple[int, str]], path: str) -> None:
        ids = [d for d, _ in docs]
        texts = [t for _, t in docs]
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": [LANGS[d % len(LANGS)] for d in ids],
            "source": [f"src{d % 20}" for d in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}), path)


def embeddings(n: int, seed: int, dim: int = 64) -> tuple[np.ndarray, np.ndarray]:
    """(vectors float32 [n, dim], labels int32 [n]): unit vectors around
    ten random class centres."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n).astype(np.int32)
    v = centres[labels] + rng.normal(scale=1.5, size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels


def write_embeddings(vecs: np.ndarray, labels: np.ndarray, path: str) -> None:
    pq.write_table(pa.table({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels}), path)


# --- course responses ----------------------------------------------------------

TYPENAMES = ("DiscoveryCollectionsSpecialization",
             "DiscoveryCollectionsCourse",
             "DiscoveryCollectionsProfessionalCertificate")
LEVELS = ("Beginner", "Intermediate", "Advanced")
COURSE_COLUMNS = (
    "collection_label", "collection_id", "course_name", "course_id",
    "slug", "url", "image_url", "partners", "partner_ids",
    "difficulty_level", "is_part_of_coursera_plus", "course_count",
    "is_cost_free", "marketing_product_type", "is_pathway_content")


def expected_row(coll: dict, ent: dict) -> tuple:
    """The 15-column warehouse row the reference transform emits for one
    entity: partners and partner ids joined with ", ", absent optional
    fields defaulted to "N/A" / False, counts and flags stringified as
    Python prints them."""
    card = ent["productCard"]
    cost = ent.get("isCostFree")
    return (
        coll["label"], coll["id"], ent["name"], ent["id"], ent["slug"],
        ent["url"], ent["imageUrl"],
        ", ".join(p["name"] for p in ent["partners"]),
        ", ".join(ent["partnerIds"]),
        ent.get("difficultyLevel", "N/A"),
        bool(ent.get("isPartOfCourseraPlus", False)),
        str(ent["courseCount"]) if "courseCount" in ent else "N/A",
        "N/A" if cost is None else str(cost),
        card["marketingProductType"],
        card["productTypeAttributes"]["isPathwayContent"])


class CourseFeed:
    """One response file per tick: ``n_collections`` collections of
    ``per_collection`` entities. ``REDELIVER`` of each collection's
    entities repeat entities delivered in earlier ticks, byte for byte;
    the rest are new. ``DROP_OPTIONAL`` of new entities omit every
    optional field."""

    REDELIVER = 0.2
    DROP_OPTIONAL = 0.25

    def __init__(self, seed: int, n_collections: int, per_collection: int):
        self.rng = np.random.default_rng([seed, 4])
        self.n_collections = n_collections
        self.per_collection = per_collection
        self.sent: list[list[dict]] = [[] for _ in range(n_collections)]
        self.next_id = 0
        self.tick = 0
        self.rows: dict[tuple[str, str], tuple] = {}

    def _entity(self) -> dict:
        i = self.next_id
        self.next_id += 1
        variant = TYPENAMES[int(self.rng.integers(0, 3))]
        n_partners = int(self.rng.integers(1, 4))
        pids = [f"p{int(p)}" for p in self.rng.integers(0, 500, n_partners)]
        ent = {
            "__typename": variant, "id": f"ent-{i}", "slug": f"slug-{i}",
            "name": f"Course {i} {VOCAB[i % len(VOCAB)]}",
            "url": f"/learn/slug-{i}", "partnerIds": pids,
            "imageUrl": f"https://img.example/{i}.png",
            "partners": [{"id": p, "name": f"Partner {p[1:]}", "logo": f"l{p[1:]}"}
                         for p in pids],
            "productCard": {
                "id": f"card-{i}",
                "marketingProductType": variant.removeprefix("DiscoveryCollections").upper(),
                "productTypeAttributes": {"isPathwayContent": bool(self.rng.random() < 0.5)},
            },
        }
        if self.rng.random() >= self.DROP_OPTIONAL:
            ent["difficultyLevel"] = LEVELS[int(self.rng.integers(0, 3))]
            ent["isPartOfCourseraPlus"] = bool(self.rng.random() < 0.5)
            if variant.endswith("Specialization"):
                ent["courseCount"] = int(self.rng.integers(2, 9))
            if variant.endswith("Course"):
                ent["isCostFree"] = bool(self.rng.random() < 0.25)
        return ent

    def next_file(self, out_dir: str) -> str:
        """Write the next tick's response into ``out_dir``; returns its
        path. ``self.last_rows`` then holds the file's rows and
        ``self.rows`` every distinct row delivered so far, both keyed by
        (collection_id, course_id)."""
        collections = []
        for ci in range(self.n_collections):
            coll = {"__typename": "DiscoveryCollection", "id": f"coll-{ci}",
                    "label": f"Collection {ci}",
                    "linkedCollectionPageMetadata": {"url": f"/collections/coll-{ci}"}}
            earlier = self.sent[ci]
            n_old = min(len(earlier), int(round(self.REDELIVER * self.per_collection)))
            picks = self.rng.choice(len(earlier), n_old, replace=False) if n_old else []
            ents = [earlier[int(j)] for j in picks]
            new = [self._entity() for _ in range(self.per_collection - n_old)]
            earlier.extend(new)
            ents += new
            coll["entities"] = ents
            collections.append(coll)
            for e in ents:
                self.rows.setdefault((coll["id"], e["id"]), expected_row(coll, e))
        ts = datetime(2026, 1, 1) + timedelta(minutes=self.tick)
        self.tick += 1
        self.last_rows = {(c["id"], e["id"]): expected_row(c, e)
                          for c in collections for e in c["entities"]}
        path = os.path.join(out_dir, f"coursera_response_{ts:%Y%m%d_%H%M%S}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump([{"data": {"DiscoveryCollections": {"queryCollections": collections}}}],
                      f, indent=2)
        return path
