"""Seeded input generator for the benchmark (pyarrow + numpy, no Spark).

Everything the engine reads in a benchmark run is written here from a
``--seed``: the same seed gives byte-identical files, another seed gives
other values. Nothing is read from outside the output directory.

* ``write_lake(out, seed, sizes)`` writes the ten harness tables
  (region ... embeddings) with the physical types the fixed testdata uses.
  Keys are dense ``0..n-1`` and every foreign key points into its parent,
  so joins stay consistent; non-key values are seeded per row. ``events.ts``
  is written as TIMESTAMP(NANOS) so ``io.load_table``'s nanos path runs.
* ``documents`` mixes originals with a seeded share of near-duplicate and
  exact copies, so the dedup keys have real work to do.
* ``VacancyFeed`` yields weekly vacancy snapshots (the ``schemas.VACANCY_SCHEMA``
  columns ``vacancy.domain`` reads) with seeded adds, removals, updates and
  archivals per week; ``DocFeed`` yields weekly document batches for the
  ingest stream, with copies of earlier documents mixed in.

Run ``python3 perfbench/gen.py --seed 1 --workload analyst --out DIR`` to
write one workload's static tables.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Word list of the generated documents (the fixed testdata's vocabulary).
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window".split()
)
LANGS = np.array(["en", "en", "de", "fr", "es", "zh"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
PART_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
#: Generated documents also draw N_TAGS letter-only "tag" words with
#: Zipf-like frequencies, so word bigrams are shared by a few documents
#: rather than by all of them, as in real text.
N_TAGS = 4000
TAG_SHARE = 0.9

_DAY_US = 86_400 * 1_000_000
_EPOCH = dt.datetime(1970, 1, 1)


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated lake. ``lineitem`` and ``orders`` drive
    the relational keys, ``documents`` and ``embeddings`` the text and
    vector keys."""

    lineitem: int
    orders: int
    customer: int
    part: int
    supplier: int
    events: int
    documents: int
    embeddings: int
    #: share of documents that are near-duplicate copies of earlier ones
    near_dup_share: float = 0.15


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    """n midnight timestamps, uniform over [lo, hi]."""
    n_days = (hi - lo).days + 1
    us = _us(lo) + rng.integers(0, n_days, n, dtype=np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    # One row group per table and no pandas metadata: the bytes depend on
    # the values only.
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _fmt(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{k:09d}" for k in keys.tolist()], pa.string())


def _tag(k: int) -> str:
    out = "q"
    while True:
        out += chr(ord("a") + k % 26)
        k //= 26
        if not k:
            return out


_TAGS = np.array([_tag(k) for k in range(N_TAGS)])


def _words(rng: np.random.Generator, n: int) -> list[str]:
    base = VOCAB[rng.integers(0, len(VOCAB), n)]
    tags = _TAGS[np.minimum(rng.zipf(1.3, n) - 1, N_TAGS - 1)]
    use_tag = rng.random(n) < TAG_SHARE
    return np.where(use_tag, tags, base).tolist()


def _doc_texts(rng: np.random.Generator, n: int, near_dup_share: float) -> list[str]:
    """Originals of 20-45 words; a ``near_dup_share`` of rows copy an
    earlier original and rewrite ~1 word in 12, and ~1% copy an earlier
    original verbatim."""
    lengths = rng.integers(20, 46, n)
    kind = rng.random(n)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and kind[i] < near_dup_share:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            flips = rng.random(len(words)) < 1 / 12
            repl = _words(rng, len(words))
            texts.append(" ".join(r if f else w for w, f, r in zip(words, flips, repl)))
        elif originals and kind[i] < near_dup_share + 0.01:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        else:
            originals.append(i)
            texts.append(" ".join(_words(rng, int(lengths[i]))))
    return texts


def documents_table(rng: np.random.Generator, first_id: int, n: int, near_dup_share: float) -> pa.Table:
    texts = _doc_texts(rng, n, near_dup_share)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)].tolist(), pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n).tolist()], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ten seeded cluster centres (label = cluster)."""
    centres = rng.normal(0.0, 1.0, (10, EMB_DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centres[label] + rng.normal(0.0, 0.8, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(label),
        }
    )


def write_lake(out: str, seed: int, s: Sizes) -> None:
    """Write the ten harness tables for ``seed`` under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731

    _write(pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    _write(
        pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
                "n_regionkey": i32([k % 5 for k in range(25)]),
            }
        ),
        f"{out}/nation.parquet",
    )
    ck = np.arange(s.customer)
    _write(
        pa.table(
            {
                "c_custkey": i64(ck),
                "c_name": _fmt("Customer#", ck),
                "c_nationkey": i32(rng.integers(0, 25, s.customer)),
                "c_acctbal": _money(rng, s.customer, -999.99, 9999.99),
                "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, s.customer)].tolist()),
            }
        ),
        f"{out}/customer.parquet",
    )
    sk = np.arange(s.supplier)
    _write(
        pa.table(
            {
                "s_suppkey": i64(sk),
                "s_name": _fmt("Supplier#", sk),
                "s_nationkey": i32(rng.integers(0, 25, s.supplier)),
                "s_acctbal": _money(rng, s.supplier, -999.99, 9999.99),
            }
        ),
        f"{out}/supplier.parquet",
    )
    n = s.part
    names = [
        f"{a} {b}" for a, b in zip(PART_ADJ[rng.integers(0, 8, n)].tolist(), PART_NOUN[rng.integers(0, 8, n)].tolist())
    ]
    _write(
        pa.table(
            {
                "p_partkey": i64(np.arange(n)),
                "p_name": pa.array(names),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n).tolist()]),
                "p_type": pa.array(PART_TYPES[rng.integers(0, 6, n)].tolist()),
                "p_size": i32(rng.integers(1, 51, n)),
                "p_retailprice": _money(rng, n, 900.0, 999.99),
            }
        ),
        f"{out}/part.parquet",
    )
    n = s.orders
    _write(
        pa.table(
            {
                "o_orderkey": i64(np.arange(n)),
                "o_custkey": i64(rng.integers(0, s.customer, n)),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)].tolist()),
                "o_totalprice": _money(rng, n, 1000.0, 500000.0),
                "o_orderdate": _days(rng, n, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
                "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n)].tolist()),
            }
        ),
        f"{out}/orders.parquet",
    )
    n = s.lineitem
    _write(
        pa.table(
            {
                "l_orderkey": i64(rng.integers(0, s.orders, n)),
                "l_partkey": i64(rng.integers(0, s.part, n)),
                "l_suppkey": i64(rng.integers(0, s.supplier, n)),
                "l_linenumber": i32(rng.integers(1, 8, n)),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(rng, n, 900.0, 105000.0),
                "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
                "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)].tolist()),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)].tolist()),
                "l_shipdate": _days(rng, n, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
            }
        ),
        f"{out}/lineitem.parquet",
    )
    n = s.events
    start_ns = _us(dt.datetime(2024, 1, 1)) * 1000
    ts = start_ns + np.sort(rng.integers(0, 30 * _DAY_US, n, dtype=np.int64)) * 1000
    _write(
        pa.table(
            {
                "event_id": i64(np.arange(n)),
                "ts": pa.array(ts, pa.timestamp("ns")),
                "user_id": i64(rng.integers(0, max(1, n // 66), n)),
                "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)].tolist()),
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]),
            }
        ),
        f"{out}/events.parquet",
    )
    _write(documents_table(rng, 0, s.documents, s.near_dup_share), f"{out}/documents.parquet")
    _write(embeddings_table(rng, s.embeddings), f"{out}/embeddings.parquet")


# ---------------------------------------------------------------------------
# weekly feeds for lake_maintenance
# ---------------------------------------------------------------------------

#: Vacancy columns the snapshots carry (a subset of schemas.VACANCY_SCHEMA,
#: in its order): what vacancy.domain reads plus the columns an update
#: changes.
VACANCY_COLUMNS = (
    "id",
    "key_skills",
    "specializations",
    "employer_id",
    "salary_from",
    "salary_to",
    "archived",
    "name",
    "area_id",
    "area_name",
)
_AREAS = np.array(["Moscow", "Yekaterinburg", "Kazan", "Novosibirsk", "Perm", "Omsk", "Tomsk", "Samara"])
_SKILLS = np.array(["SQL", "Python", "Java", "Spark", "Excel", "Go", "Linux", "Git", "Docker", "Kafka"])
_TITLES = np.array(["Analyst", "Developer", "Engineer", "Manager", "Tester", "Designer"])
FIRST_WEEK = dt.date(2024, 1, 1)


def vacancy_arrow_schema() -> pa.Schema:
    types = {
        "id": pa.int64(),
        "employer_id": pa.int64(),
        "salary_from": pa.int64(),
        "salary_to": pa.int64(),
        "archived": pa.bool_(),
        "area_id": pa.int32(),
    }
    return pa.schema([(c, types.get(c, pa.string())) for c in VACANCY_COLUMNS])


class VacancyFeed:
    """Weekly full snapshots of the live vacancy set. Week 0 has
    ``n_live`` ids; every later week removes ~10% of them, archives ~1%
    (archived rows count as absent), updates ~10% (salary or title) and
    adds ~10% fresh ids. Removed ids never come back, so a lifecycle
    recomputation needs no reappearance rule."""

    def __init__(self, seed: int, n_live: int) -> None:
        self.rng = np.random.default_rng([seed, 1])
        self.next_id = 0
        self.week = 0
        self.rows: dict[str, np.ndarray] = {}
        self._add(n_live)

    def _add(self, n: int) -> None:
        r = self.rng
        area = r.integers(0, len(_AREAS), n).astype(np.int32)
        spec_major = r.integers(1, 4, n)  # major group 1 is IT
        spec = np.array(
            [f"{m}.{m * 100 + k} spec{k} {m} area{m}" for m, k in zip(spec_major.tolist(), r.integers(0, 50, n).tolist())],
            dtype=object,
        )
        second = r.random(n) < 0.3
        spec[second] = spec[second] + "\n1.221 dev 1 it"
        new = {
            "id": np.arange(self.next_id, self.next_id + n, dtype=np.int64),
            "key_skills": np.array(
                ["\n".join(_SKILLS[r.choice(10, k, replace=False)].tolist()) for k in r.integers(1, 5, n).tolist()],
                dtype=object,
            ),
            "specializations": spec,
            "employer_id": r.integers(0, 5000, n).astype(np.int64),
            "salary_from": (r.integers(30, 300, n) * 1000).astype(np.int64),
            "salary_to": (r.integers(300, 600, n) * 1000).astype(np.int64),
            "archived": np.zeros(n, dtype=bool),
            "name": _TITLES[r.integers(0, len(_TITLES), n)].astype(object),
            "area_id": area,
            "area_name": _AREAS[area].astype(object),
        }
        self.next_id += n
        self.rows = new if not self.rows else {c: np.concatenate([self.rows[c], new[c]]) for c in VACANCY_COLUMNS}

    def _evolve(self) -> None:
        r = self.rng
        n = len(self.rows["id"])
        keep = r.random(n) >= 0.10
        self.rows = {c: v[keep] for c, v in self.rows.items()}
        n = len(self.rows["id"])
        upd = r.random(n) < 0.10
        k = int(upd.sum())
        self.rows["salary_from"][upd] += r.integers(1, 20, k) * 1000
        retitle = upd & (r.random(n) < 0.5)
        self.rows["name"][retitle] = _TITLES[r.integers(0, len(_TITLES), int(retitle.sum()))]
        self._add(max(1, int(n * 0.10 / 0.9)))

    def next_week(self) -> tuple[dt.date, pa.Table]:
        """The next weekly snapshot and its date."""
        if self.week > 0:
            self._evolve()
        date = FIRST_WEEK + dt.timedelta(weeks=self.week)
        self.week += 1
        rows = {c: v.copy() for c, v in self.rows.items()}
        # ~1% of the week's rows arrive archived: the fold treats them as
        # absent, and the feed drops them for good afterwards.
        arch = self.rng.random(len(rows["id"])) < 0.01
        rows["archived"] = arch
        live = ~arch
        self.rows = {c: v[live] for c, v in self.rows.items()}
        schema = vacancy_arrow_schema()
        return date, pa.table([pa.array(rows[f.name].tolist(), f.type) for f in schema], schema=schema)


class DocFeed:
    """Weekly document batches for the ingest stream: ``n`` rows per week
    with fresh doc ids; about 15% are near copies and 5% exact copies of
    documents from earlier batches or the same batch."""

    def __init__(self, seed: int, n: int) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.n = n
        self.next_id = 0
        self.seen: list[str] = []

    def next_batch(self) -> pa.Table:
        r = self.rng
        t = documents_table(r, self.next_id, self.n, near_dup_share=0.15)
        texts = t.column("text").to_pylist()
        if self.seen:
            old = r.random(self.n) < 0.05
            for i in np.flatnonzero(old).tolist():
                texts[i] = self.seen[int(r.integers(0, len(self.seen)))]
        self.seen.extend(texts)
        self.next_id += self.n
        return pa.table({"doc_id": t.column("doc_id"), "text": pa.array(texts, pa.string())})


def write_table(table: pa.Table, path: str) -> None:
    """Write one generated table (a weekly snapshot or document batch)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _write(table, path)


def main() -> None:
    from workloads import WORKLOAD_SIZES

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", choices=sorted(WORKLOAD_SIZES), required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write_lake(a.out, a.seed, WORKLOAD_SIZES[a.workload])


if __name__ == "__main__":
    main()
