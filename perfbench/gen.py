"""Seeded input generators for the pipeline benchmark.

Everything here is a pure function of the seed: the same seed gives the
same bytes. The engine only ever sees the files these functions write.

Wire messages follow ``streaming.pipeline.synth_wire_messages``: one
JSON object per line, nullable fields wrapped as Avro-union single-key
objects (``{"string": v}`` / ``{"int": v}``). About 1 in 7 messages has
no PAN (a valid row with a null token) and about 5 % carry a PAN of an
invalid length (dead-letter rows).
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

NULL_PAN_SHARE = 1 / 7
INVALID_PAN_SHARE = 0.05
_VALID_LENS = np.array([13, 14, 15, 16, 17, 18, 19])
_VALID_LEN_P = np.array([0.05, 0.05, 0.10, 0.60, 0.05, 0.05, 0.10])
_INVALID_LENS = np.array([11, 12, 20, 21])
N_CUSTOMERS = 30_000
_CHANNELS = ("POS", "Online Payment Gateway", "Net Banking", "UPI")

_WIRE = (
    '{"transaction_id": "%s", "customer_id": %d, "account_id": %d, '
    '"merchant_id": %d, "merchant_category_code_id": %d, "is_recurring": %s, '
    '"transaction_datetime": "%s", "amount": %.2f, "tax_amount": %.2f, '
    '"discount_amount": %.2f, "total_amount": %.2f, "transaction_channel": "%s", '
    '"card_number": %s, "card_bin": null, "card_provider": {"string": "VISA"}, '
    '"cardholder_name": null, "card_expiry_date": null, '
    '"payment_gateway_id": {"int": %d}, "device_type_id": null, '
    '"ip_address": null, "risk_score": %.2f}'
)


def _pan_lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    """PAN length per message; 0 means the PAN is absent."""
    u = rng.random(n)
    lens = rng.choice(_VALID_LENS, size=n, p=_VALID_LEN_P)
    bad = u < NULL_PAN_SHARE + INVALID_PAN_SHARE
    lens[bad] = rng.choice(_INVALID_LENS, size=int(bad.sum()))
    lens[u < NULL_PAN_SHARE] = 0
    return lens


def unique_pans(seed: int, n: int) -> list[str | None]:
    """``n`` PANs of which no two non-null ones are equal: the digits
    after the leading ``4`` are ``(i * A + offset) mod 10^(len-1)``, a
    bijection on ``i`` because ``A`` is coprime to 10."""
    rng = np.random.default_rng([seed, 1])
    lens = _pan_lengths(rng, n)
    offset = int(rng.integers(0, 10**9))
    return [
        None if ln == 0 else "4" + str((i * 1_000_003 + offset) % 10 ** (ln - 1)).zfill(ln - 1)
        for i, ln in enumerate(lens.tolist())
    ]


def pooled_pans(seed: int, n: int, pool_size: int, stream: int = 0) -> list[str | None]:
    """``n`` PANs drawn uniformly from a pool of ``pool_size`` cards
    (repeat customers); the null share is drawn per message and the
    invalid-length share per card. The pool depends on ``seed`` only,
    the draws also on ``stream``."""
    rng = np.random.default_rng([seed, 2])
    card_lens = rng.choice(_VALID_LENS, size=pool_size, p=_VALID_LEN_P)
    bad = rng.random(pool_size) < INVALID_PAN_SHARE / (1 - NULL_PAN_SHARE)
    card_lens[bad] = rng.choice(_INVALID_LENS, size=int(bad.sum()))
    pool = [
        "4" + "".join(map(str, rng.integers(0, 10, ln - 1))) for ln in card_lens.tolist()
    ]
    rng = np.random.default_rng([seed, 2, stream])
    pick = rng.integers(0, pool_size, n)
    absent = rng.random(n) < NULL_PAN_SHARE
    return [None if a else pool[p] for a, p in zip(absent.tolist(), pick.tolist())]


@dataclass
class Ledger:
    """What the generator put on the wire, for the correctness gate."""

    messages: int = 0
    null_pan: int = 0
    invalid_pan: int = 0
    #: transaction_id → PAN for every message with a valid-length PAN
    tokenized: dict[str, str] = field(default_factory=dict)

    @property
    def valid(self) -> int:
        return self.messages - self.invalid_pan

    def add(self, other: Ledger) -> None:
        self.messages += other.messages
        self.null_pan += other.null_pan
        self.invalid_pan += other.invalid_pan
        self.tokenized.update(other.tokenized)


def wire_lines(seed: int, tag: str, pans: list[str | None]) -> tuple[str, Ledger]:
    """One file's worth of wire messages (newline-joined) and its ledger.
    ``tag`` makes transaction ids unique across files."""
    n = len(pans)
    rng = np.random.default_rng([seed, 3, zlib.crc32(tag.encode())])
    cust = rng.integers(1, N_CUSTOMERS + 1, n).tolist()
    merch = rng.integers(1, 39, n).tolist()
    gw = rng.integers(1, 11, n).tolist()
    chan = rng.integers(0, len(_CHANNELS), n).tolist()
    rec = (rng.random(n) < 0.1).tolist()
    amt = rng.uniform(1, 5000, n).round(2).tolist()
    risk = rng.random(n).round(2).tolist()
    secs = rng.integers(0, 86400 * 365, n).tolist()
    base = datetime(2024, 1, 1)
    ledger = Ledger(messages=n)
    lines = []
    for i, pan in enumerate(pans):
        tid = f"{tag}-{i}"
        if pan is None:
            ledger.null_pan += 1
            card = "null"
        else:
            card = '{"string": "%s"}' % pan
            if 13 <= len(pan) <= 19:
                ledger.tokenized[tid] = pan
            else:
                ledger.invalid_pan += 1
        a = amt[i]
        lines.append(
            _WIRE
            % (
                tid, cust[i], cust[i] * 10, merch[i], merch[i] % 19 + 1,
                "true" if rec[i] else "false",
                (base + timedelta(seconds=secs[i])).strftime("%Y-%m-%dT%H:%M:%S"),
                a, a * 0.1, a * 0.01, a * 1.09, _CHANNELS[chan[i]], card, gw[i], risk[i],
            )
        )
    return "\n".join(lines) + "\n", ledger


def write_customer_lookup(seed: int, out_dir: str) -> None:
    """The J3 lookup side: customer_id → segment, one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    segs = np.array(["Retail", "Salaried", "Business", "NRI", "Senior"])
    pq.write_table(
        pa.table(
            {
                "customer_id": np.arange(1, N_CUSTOMERS + 1, dtype=np.int64),
                "segment": segs[rng.integers(0, len(segs), N_CUSTOMERS)],
            }
        ),
        f"{out_dir}/part-0.parquet",
    )


#: Row counts of the star tables, the sf0.1 sizes of the repo's test data.
STAR_ROWS = {"customer": 15_000, "orders": 150_000, "lineitem": 600_000, "events": 100_000}


def write_star_tables(seed: int, out_dir: str, scale: float = 1.0) -> None:
    """The TPC-H-shaped tables the dashboard functions read (region,
    nation, customer, orders, lineitem, events), one parquet file each,
    with the column names and types of the repo's sf0.1 test data;
    ``scale`` shrinks the four large tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 5])
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    def days(n: int, start: str, span: int) -> pa.Array:
        d = np.datetime64(start, "us") + rng.integers(0, span, n) * np.timedelta64(86400, "s")
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return rng.uniform(lo, hi, n).round(2)

    nc, no, nl, ne = (int(STAR_ROWS[k] * scale) for k in ("customer", "orders", "lineitem", "events"))
    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    put("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(-999, 9999, nc),
        "c_mktsegment": segs[rng.integers(0, 5, nc)],
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": days(no, "1995-01-01", 2404),
        "o_orderpriority": prio[rng.integers(0, 5, no)],
    })
    put("lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, 20000, nl),
        "l_suppkey": rng.integers(0, 1000, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": days(nl, "1995-01-01", 2800),
    })
    ts = np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86400 * 10**6, ne).astype(
        "timedelta64[us]"
    )
    put("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.sort(ts), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, ne)
        ],
        "value": money(0, 560, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne).tolist()],
    })
