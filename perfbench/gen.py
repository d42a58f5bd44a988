"""Seeded input generators and the reference answers computed from them.

Everything the pipeline sees is produced here from ``--seed``; every
correctness check compares the pipeline's output with a reference this
module computes from its own record of what it generated, never from the
pipeline's output.
"""

from __future__ import annotations

import os

import numpy as np

N_CUSTOMERS = 10_000
# order customerIDs above N_CUSTOMERS have no dimension row: the inner
# enrichment join must drop them
UNKNOWN_IDS = 200
# share of generated orders that name an unknown customer
UNKNOWN_RATIO = 0.02
CITIES = (
    "Chicago", "Dallas", "Denver", "Houston", "Miami", "Phoenix", "Seattle",
    "Boston", "Austin", "Atlanta", "Portland", "Detroit", "Tampa", "Omaha",
)
QUERY_CITY = "Chicago"

_ORDER_LINE = '{"orderID":"%d","customerID":%d,"amount":%d}\n'


def city_index(seed: int) -> np.ndarray:
    """city_index[cust_id] = index into CITIES (-1 for unknown ids)."""
    out = np.full(N_CUSTOMERS + UNKNOWN_IDS + 1, -1, dtype=np.int64)
    rng = np.random.default_rng([seed, 1])
    out[1 : N_CUSTOMERS + 1] = rng.integers(0, len(CITIES), N_CUSTOMERS)
    return out


def customers(seed: int) -> list[tuple[int, str, str]]:
    """The reference table: (cust_id, cust_name, city) for ids 1..N."""
    city = city_index(seed)
    return [(i, f"Customer {i}", CITIES[city[i]]) for i in range(1, N_CUSTOMERS + 1)]


class Orders:
    """A column-wise order table: ids, customer ids, amounts (int64)."""

    def __init__(self, ids, cust, amount):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.cust = np.asarray(cust, dtype=np.int64)
        self.amount = np.asarray(amount, dtype=np.int64)

    def __len__(self) -> int:
        return len(self.ids)

    def take(self, idx) -> "Orders":
        return Orders(self.ids[idx], self.cust[idx], self.amount[idx])

    def concat(self, other: "Orders") -> "Orders":
        return Orders(
            np.concatenate([self.ids, other.ids]),
            np.concatenate([self.cust, other.cust]),
            np.concatenate([self.amount, other.amount]),
        )

    def json_lines(self) -> str:
        rows = zip(self.ids.tolist(), self.cust.tolist(), self.amount.tolist())
        return "".join([_ORDER_LINE % r for r in rows])


def new_orders(rng, first_id: int, n: int) -> Orders:
    """``n`` orders with unique ids ``first_id..first_id+n-1``; about
    UNKNOWN_RATIO of them name a customer the dimension lacks."""
    cust = rng.integers(1, N_CUSTOMERS + 1, n)
    unknown = rng.random(n) < UNKNOWN_RATIO
    cust[unknown] = N_CUSTOMERS + rng.integers(1, UNKNOWN_IDS + 1, int(unknown.sum()))
    return Orders(np.arange(first_id, first_id + n), cust, rng.integers(20, 500, n))


def backlog(seed: int, n_unique: int, resend_ratio: float = 0.05) -> Orders:
    """A shuffled backlog of ``n_unique`` orders plus about
    ``resend_ratio`` exact re-sends (same id, same content)."""
    rng = np.random.default_rng([seed, 2])
    base = new_orders(rng, 1, n_unique)
    dups = rng.choice(n_unique, int(n_unique * resend_ratio), replace=False)
    full = base.concat(base.take(dups))
    return full.take(rng.permutation(len(full)))


def write_files(orders: Orders, directory: str, n_files: int, prefix: str = "part") -> list[str]:
    """Split ``orders`` into ``n_files`` JSON-lines files, oldest first.
    Each file is written under a dot-name and renamed into place, so the
    file source never lists a half-written file; mtimes increase with
    the file index so the source drains them in order."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, len(orders), n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        part = orders.take(slice(bounds[i], bounds[i + 1]))
        paths.append(
            write_atomic(directory, f"{prefix}{i:05d}.json", part.json_lines(), mtime=1_000_000 + i)
        )
    return paths


def write_atomic(directory: str, name: str, text: str, mtime: float | None = None) -> str:
    tmp = os.path.join(directory, f".{name}.tmp")
    final = os.path.join(directory, name)
    with open(tmp, "w") as fh:
        fh.write(text)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, final)
    return final


class LatestWins:
    """Reference state of a keyed upsert sink: the last write per order
    id wins, orders of unknown customers never appear."""

    def __init__(self, seed: int):
        self.city_of = city_index(seed)
        self.rows: dict[int, tuple[int, int]] = {}

    def apply(self, orders: Orders) -> None:
        for k, c, a in zip(orders.ids.tolist(), orders.cust.tolist(), orders.amount.tolist()):
            city = int(self.city_of[c])
            if city >= 0:
                self.rows[k] = (city, a)

    def by_city(self) -> dict[str, tuple[int, int]]:
        """{city: (count, amount sum)} of the live rows."""
        out: dict[str, list[int]] = {}
        for city, amount in self.rows.values():
            acc = out.setdefault(CITIES[city], [0, 0])
            acc[0] += 1
            acc[1] += amount
        return {c: (n, s) for c, (n, s) in out.items()}

    def id_digest(self) -> tuple[int, int, int]:
        """(count, sum of ids, sum of squared ids) of the live rows."""
        ids = list(self.rows)
        return len(ids), sum(ids), sum(k * k for k in ids)

    def expected_queries(self) -> dict:
        """F1/A1/A2/A3 on QUERY_CITY as the relational operators compute
        them: decimal-exact sums, then one double division."""
        agg = self.by_city()
        n, s = agg.get(QUERY_CITY, (0, 0))
        f1 = sorted(
            (k, a) for k, (c, a) in self.rows.items() if CITIES[c] == QUERY_CITY
        )
        return {
            "F1": f1,
            "A1": float(s) / float(n) if n else None,
            "A2": {c: float(v[1]) / float(v[0]) for c, v in agg.items()},
            "A3": {c: float(v[1]) for c, v in agg.items()},
        }


# -- documents ---------------------------------------------------------------

VOCAB = 5000
DOC_WORDS = 60
# share of stream documents that are one-word edits of a corpus document
NEAR_DUP_RATIO = 0.3


def _random_docs(rng, n: int) -> list[str]:
    words = rng.integers(0, VOCAB, (n, DOC_WORDS))
    return [" ".join(f"w{j}" for j in row) for row in words.tolist()]


def corpus(seed: int, n: int) -> list[tuple[int, str]]:
    """``n`` random documents with ids 0..n-1 (pairwise far apart)."""
    rng = np.random.default_rng([seed, 3])
    return list(enumerate(_random_docs(rng, n)))


def doc_stream(seed: int, corpus_docs: list[tuple[int, str]], n: int):
    """``n`` stream documents: about NEAR_DUP_RATIO of them repeat a
    corpus document with its LAST word replaced (one changed word
    shingle, Jaccard 57/59 against the original), the rest are novel.
    Returns (docs, planted novel ids)."""
    rng = np.random.default_rng([seed, 4])
    is_dup = rng.random(n) < NEAR_DUP_RATIO
    novel_text = iter(_random_docs(rng, int((~is_dup).sum())))
    sources = rng.choice(len(corpus_docs), int(is_dup.sum()), replace=False)
    src = iter(sources.tolist())
    docs, novel = [], set()
    for i, dup in enumerate(is_dup.tolist()):
        doc_id = 1_000_000 + i
        if dup:
            words = corpus_docs[next(src)][1].split(" ")
            words[-1] = f"edit{doc_id}"
            docs.append((doc_id, " ".join(words)))
        else:
            docs.append((doc_id, next(novel_text)))
            novel.add(doc_id)
    return docs, novel


def docs_json(docs) -> str:
    return "".join(
        '{"doc_id":%d,"text":"%s"}\n' % (i, t) for i, t in docs
    )
