"""Seeded input generators for the three benchmark workloads.

Every generator takes a ``numpy`` random generator built from the run's
``--seed`` and writes only under the directory it is given, so one seed
always yields byte-identical inputs.

* ``donors_csv``: Donors/Donations CSVs in the reference dialect (no
  quoting, header row, empty fields kept) plus the expected per-state
  totals in integer cents.
* ``star_mix`` / ``text_dedup``: the star schema and the document table
  as parquet directories — rows shuffled and split over several files,
  the layout a real lake hands the scan.
"""

from __future__ import annotations

import binascii
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

STATES = [
    "Alabama", "Alaska", "Arizona", "Arkansas", "California", "Colorado",
    "Connecticut", "Delaware", "District of Columbia", "Florida", "Georgia",
    "Hawaii", "Idaho", "Illinois", "Indiana", "Iowa", "Kansas", "Kentucky",
    "Louisiana", "Maine", "Maryland", "Massachusetts", "Michigan",
    "Minnesota", "Mississippi", "Missouri", "Montana", "Nebraska", "Nevada",
    "New Hampshire", "New Jersey", "New Mexico", "New York",
    "North Carolina", "North Dakota", "Ohio", "Oklahoma", "Oregon",
    "Pennsylvania", "Rhode Island", "South Carolina", "South Dakota",
    "Tennessee", "Texas", "Utah", "Vermont", "Virginia", "Washington",
    "West Virginia", "Wisconsin", "Wyoming", "other",
]
CITIES = ["Chicago", "New York", "Los Angeles", "Houston", "Phoenix",
          "San Diego", "Dallas", "Austin", "Seattle", "Denver", ""]

DONORS_HEADER = "Donor ID,Donor City,Donor State,Donor Is Teacher,Donor Zip"
DONATIONS_HEADER = (
    "Project ID,Donation ID,Donor ID,Donation Included Optional Donation,"
    "Donation Amount,Donor Cart Sequence"
)


def _hex_ids(rng: np.random.Generator, n: int) -> pa.Array:
    """``n`` random 32-hex-digit ids, the shape of DonorsChoose keys."""
    hexed = binascii.hexlify(rng.bytes(16 * n))
    return pa.array(np.frombuffer(hexed, dtype="S32")).cast(pa.string())


def _write_csv(path: str, header: str, table: pa.Table) -> None:
    with open(path, "wb") as f:
        f.write(header.encode() + b"\n")
        pacsv.write_csv(
            table, f,
            pacsv.WriteOptions(include_header=False, quoting_style="none"),
        )


def gen_donors(
    rng: np.random.Generator, out_dir: str, n_donors: int, n_donations: int
) -> dict[str, int]:
    """Write ``donors.csv`` and ``donations.csv``; return the expected
    ``{state: total_cents}`` of the reference query over them.

    Duplicate Donor IDs re-appear later in the file with a fresh state
    (the last occurrence wins), donor popularity is Zipf-skewed, 1% of
    amounts are empty (they count as 0.0), and every donation's donor
    exists, so the strict join holds.
    """
    os.makedirs(out_dir, exist_ok=True)
    ids = _hex_ids(rng, n_donors)
    n_dup = n_donors // 50
    # row -> donor: every donor once in order, then re-occurrences of
    # random donors spliced in at random later positions
    dup_of = rng.integers(0, n_donors, size=n_dup)
    row_donor = np.concatenate([np.arange(n_donors), dup_of])
    keys = np.concatenate(
        [np.arange(n_donors), dup_of + rng.integers(1, n_donors, size=n_dup)]
    )
    row_donor = row_donor[np.argsort(keys, kind="stable")]
    n_rows = row_donor.size
    row_state = rng.integers(0, len(STATES), size=n_rows)
    # last occurrence wins: the first hit in reversed row order
    _, first_rev = np.unique(row_donor[::-1], return_index=True)
    final_state = row_state[::-1][first_rev]  # indexed by donor
    _write_csv(os.path.join(out_dir, "donors.csv"), DONORS_HEADER, pa.table({
        "id": ids.take(pa.array(row_donor)),
        "city": _pick(rng, CITIES, n_rows),
        "state": pa.array(np.array(STATES, dtype=object)[row_state]),
        "teacher": _pick(rng, ["Yes", "No"], n_rows),
        "zip": pa.array(np.char.zfill(rng.integers(0, 1000, n_rows).astype("U3"), 3).astype(object)),
    }))

    ranks = np.arange(1, n_donors + 1, dtype=np.float64) ** -1.1
    donor_of = rng.permutation(n_donors)[
        rng.choice(n_donors, size=n_donations, p=ranks / ranks.sum())
    ]
    cents = np.maximum(
        1, np.round(rng.lognormal(mean=3.4, sigma=1.0, size=n_donations) * 100)
    ).astype(np.int64)
    empty = rng.random(n_donations) < 0.01
    cents[empty] = 0
    projects = _hex_ids(rng, n_donations // 8 + 1)
    _write_csv(os.path.join(out_dir, "donations.csv"), DONATIONS_HEADER, pa.table({
        "project": projects.take(pa.array(rng.integers(0, len(projects), n_donations))),
        "donation": _hex_ids(rng, n_donations),
        "donor": ids.take(pa.array(donor_of)),
        "optional": _pick(rng, ["Yes", "No"], n_donations),
        "amount": pa.array(cents / 100.0, mask=empty),
        "cart": pa.array(rng.integers(1, 40, size=n_donations)),
    }))
    state_of = final_state[donor_of]
    totals = np.bincount(state_of, weights=cents, minlength=len(STATES))
    seen = np.bincount(state_of, minlength=len(STATES))
    return {
        STATES[i]: int(round(totals[i])) for i in np.flatnonzero(seen).tolist()
    }


def _write_split(
    rng: np.random.Generator, table: pa.Table, path: str, n_files: int
) -> None:
    """Shuffle the rows and split them over ``n_files`` parquet files."""
    os.makedirs(path, exist_ok=True)
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _days(start: datetime.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, options: list[str], n: int) -> pa.Array:
    return pa.array(np.array(options, dtype=object)[rng.integers(0, len(options), size=n)])


def gen_star(rng: np.random.Generator, out_dir: str, sf: float) -> dict[str, int]:
    """TPC-H-shaped star schema at scale ``sf`` (sf=1 → 6M lineitems),
    value domains as in the engine's test corpus. Returns row counts."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 50), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = ["large", "hot", "blue", "small", "red", "green", "cold", "old"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(
            np.char.add(np.char.add(np.array(adjectives)[rng.integers(0, 8, n_part)], " "),
                        np.array(nouns)[rng.integers(0, 8, n_part)]).astype(object)),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 20_000) * 0.1, 2),
    })
    order_day = rng.integers(0, 2404, size=n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(datetime.date(1995, 1, 1), order_day),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines_per = rng.integers(1, 8, size=n_ord)
    li_order = np.repeat(np.arange(n_ord), lines_per)
    n_li = li_order.size
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), i64),
        "l_linenumber": pa.array(linenumber, i32),
        "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(datetime.date(1995, 1, 2),
                            order_day[li_order] + rng.integers(0, 121, size=n_li)),
    })
    for name, t in tables.items():
        _write_split(rng, t, os.path.join(out_dir, f"{name}.parquet"),
                     4 if t.num_rows > 10_000 else 1)
    return {name: t.num_rows for name, t in tables.items()}


# Shape of the engine's sf0.1 test corpus (5,000 documents), measured
# with pyarrow: every word is drawn uniformly from these 30 (the most and
# least frequent differ by under 4%), a document has 10-100 words
# (uniform), 5.0% of documents are an earlier document with " dup"
# appended (so a few end up exact copies of each other: 8 in that
# corpus), no passage is shared as boilerplate, 41% of documents are
# "en" and the rest split evenly over de/es/fr/zh, and the source is
# ``src<doc_id mod 20>``.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NEAR_DUP_FRAC = 0.05
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def gen_documents(rng: np.random.Generator, out_dir: str, n_docs: int) -> int:
    """Documents of the test corpus's shape (see ``WORDS``), so the
    inverted index, MinHash buckets and substring spans do the work they
    do there. Returns the row count."""
    words = np.array(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < NEAR_DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(WORDS), size=n)].tolist()))
    doc_id = np.arange(n_docs)
    table = pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in doc_id.tolist()]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write_split(rng, table, os.path.join(out_dir, "documents.parquet"), 4)
    return n_docs
