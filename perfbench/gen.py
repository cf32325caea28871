"""Seeded input generator: PriceCatcher trios, top-up day files, a corpus.

Every file is a pure function of its arguments and the seed: the same seed
writes byte-identical parquet. The trio carries the dirty-data properties of
FIXTURES.md section A:

- prices: string codes, string prices, timestamps with a time part (the
  cleanse truncates them to a date), same-date ties broken by price;
- premises: string-typed float codes, some needing rounding, a few
  unparsable rows that the cleanse skips, NULL and padded strings;
- items: string codes, NULL and padded strings.

One shape parameter, ``obs_per_pair``, separates the two rebuild workloads:
many observations per (premise, item) pair make the latest-per-group dedup
do the work, one observation per pair makes the output as large as the input.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTH = "2024-01"
PRICES_FILE = f"pricecatcher_{MONTH}.parquet"
PREMISES_FILE = "lookup_premise.parquet"
ITEMS_FILE = "lookup_item.parquet"

_PREMISE_TYPES = ["Pasar Raya", "Kedai Runcit", "Pasar Basah", "Hypermarket",
                  "Pasar Mini", "Kedai Serbaneka"]
_UNITS = ["1kg", "500g", "1l", "2l", "1 biji", "10 biji", "100g", "1 tin",
          "1 paket", "1 botol"]
_GROUPS = ["barangan segar", "barangan kering", "minuman", "barangan berbungkus",
           "barangan dapur"]
_VOCAB = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()


def _dirty(rng: np.random.Generator, values: list[str], null_frac: float,
           pad_frac: float) -> list[str | None]:
    """NULL some values and pad others with spaces on both sides."""
    u = rng.random(len(values))
    return [None if x < null_frac else (f"  {v} " if x < null_frac + pad_frac else v)
            for v, x in zip(values, u)]


def _write(table: pa.Table, path: Path) -> Path:
    pq.write_table(table, path, compression="snappy")
    return path


PREMISE_BASE = 1000  # premise codes are PREMISE_BASE + i
ITEM_BASE = 1  # item codes are ITEM_BASE + i


def _timestamps(rng: np.random.Generator, day0: np.datetime64, days: np.ndarray) -> pa.Array:
    """Dates at a random second of the given day offsets, as timestamp[us]."""
    secs = rng.integers(6 * 3600, 22 * 3600, len(days))
    us = (day0.astype("datetime64[us]").astype(np.int64)
          + days.astype(np.int64) * 86_400_000_000 + secs * 1_000_000)
    return pa.array(us, pa.timestamp("us"))


def _prices_table(rng, pairs: np.ndarray, n_items: int, day0: np.datetime64,
                  days: np.ndarray) -> pa.Table:
    premise = PREMISE_BASE + pairs // n_items
    item = ITEM_BASE + pairs % n_items
    cents = rng.integers(50, 10_000, len(pairs))
    return pa.table({
        "date": _timestamps(rng, day0, days),
        "premise_code": pa.array(premise.astype(str)),
        "item_code": pa.array(item.astype(str)),
        "price": pa.array([f"{c // 100}.{c % 100:02d}" for c in cents.tolist()]),
    })


def month_pairs(seed: int, n_premises: int, n_items: int, n_pairs: int) -> np.ndarray:
    """The (premise, item) pairs observed in the month, as premise * n_items + item."""
    rng = np.random.default_rng([seed, 0])
    return np.sort(rng.choice(n_premises * n_items, n_pairs, replace=False))


def write_trio(out_dir: Path, seed: int, n_premises: int, n_items: int,
               n_pairs: int, obs_per_pair: int) -> dict[str, Path]:
    """One month's prices plus both lookup tables; returns the three paths.

    About 2% of pairs get one extra observation on an existing date with
    another price, so the price tie-break runs even at one observation per
    pair."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 1])

    codes = PREMISE_BASE + np.arange(n_premises, dtype=np.int64)
    # string-typed floats: most exact, some that round back to the code
    kind = rng.integers(0, 10, n_premises)
    raw = [f"{c}.4" if k == 0 else (f"{c - 1}.6" if k == 1 else f"{c}.0")
           for c, k in zip(codes.tolist(), kind.tolist())]
    bad = ["abc", "", None, "n/a", "--"]  # skipped by the cleanse
    names = [f"Premis {c}" for c in codes.tolist()] + [f"Ghost {i}" for i in range(len(bad))]
    n_all = len(names)
    premises = pa.table({
        "premise_code": pa.array(raw + bad, pa.string()),
        "premise": pa.array(_dirty(rng, names, 0.02, 0.10)),
        "address": pa.array(_dirty(rng, [f"{i} Jalan {i % 97}" for i in range(n_all)], 0.05, 0.10)),
        "premise_type": pa.array(_dirty(rng, [_PREMISE_TYPES[i] for i in rng.integers(0, 6, n_all)], 0.01, 0.05)),
        "state": pa.array(_dirty(rng, [f"Negeri {i}" for i in rng.integers(0, 16, n_all)], 0.01, 0.05)),
        "district": pa.array(_dirty(rng, [f"Daerah {i}" for i in rng.integers(0, 50, n_all)], 0.02, 0.05)),
    })

    icodes = (ITEM_BASE + np.arange(n_items, dtype=np.int64)).astype(str).tolist()
    items = pa.table({
        "item_code": pa.array(icodes),
        "item": pa.array(_dirty(rng, [f"Barang {c}" for c in icodes], 0.01, 0.10)),
        "unit": pa.array(_dirty(rng, [_UNITS[i] for i in rng.integers(0, 10, n_items)], 0.01, 0.05)),
        "item_group": pa.array(_dirty(rng, [_GROUPS[i] for i in rng.integers(0, 5, n_items)], 0.01, 0.05)),
        "item_category": pa.array(_dirty(rng, [f"Kategori {i}" for i in rng.integers(0, 20, n_items)], 0.01, 0.05)),
    })

    pairs = month_pairs(seed, n_premises, n_items, n_pairs)
    obs = np.repeat(pairs, obs_per_pair)
    days = rng.integers(0, 28, len(obs))
    ties = rng.random(n_pairs) < 0.02
    obs = np.concatenate([obs, pairs[ties]])
    days = np.concatenate([days, days[np.flatnonzero(ties) * obs_per_pair]])
    order = rng.permutation(len(obs))
    prices = _prices_table(rng, obs[order], n_items, np.datetime64(f"{MONTH}-01"), days[order])

    return {
        "prices": _write(prices, out_dir / PRICES_FILE),
        "premises": _write(premises, out_dir / PREMISES_FILE),
        "items": _write(items, out_dir / ITEMS_FILE),
    }


def write_day_file(out_dir: Path, seed: int, day: int, n_premises: int, n_items: int,
                   n_pairs: int, rows: int) -> Path:
    """The price file of one day after MONTH.

    It observes ``rows`` distinct pairs: 90% drawn from the month's pairs
    (their champion moves to the newer date), 10% from the whole grid,
    mostly new."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 2, day])
    day0 = np.datetime64(f"{MONTH}-01") + np.timedelta64(31, "D")
    known = rng.choice(month_pairs(seed, n_premises, n_items, n_pairs), rows * 9 // 10,
                       replace=False)
    pairs = np.unique(np.concatenate(
        [known, rng.choice(n_premises * n_items, rows - len(known), replace=False)]))
    t = _prices_table(rng, pairs, n_items, day0, np.full(len(pairs), day))
    return _write(t, out_dir / f"pricecatcher_day_{day:04d}.parquet")


def write_corpus(path: Path, seed: int, n_docs: int, n_sources: int = 20) -> Path:
    """Documents shaped like the repo's ``documents`` test table.

    Columns (doc_id, text, lang, source, n_chars); words drawn from a
    31-word vocabulary, 10-100 words per document. About 5% are near
    duplicates (an earlier text with "dup" inserted), about 0.5% exact
    copies, and about 1% carry an e-mail address or phone number for the
    PII scrub."""
    path.parent.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        elif i > 10 and u < 0.055:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))]
            if u > 0.99:
                words.insert(int(rng.integers(0, len(words))),
                             f"user{i}@example.com" if u > 0.995 else f"012-345-{i % 10_000:04d}")
            texts.append(" ".join(words))
    langs = ["en", "en", "en", "zh", "es", "fr", "de"]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([langs[j] for j in rng.integers(0, len(langs), n_docs)]),
        "source": pa.array([f"src{i % n_sources}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return _write(table, path)
