"""Seeded inputs for the benchmark, generated by the benchmark itself.

The EEG session CSVs follow the raw layout the ingest path reads
(6 key/value metadata rows, a super-category row, a header row, then
``unix_seconds/1e5, seq, signals...`` data rows), but this module is
the benchmark's own code: a change to the program cannot change the
bytes the benchmark feeds it. Same seed, same bytes.

The analyst tables are TPC-H-shaped parquet files with the column
names and types the package's catalog expects (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), sized by a scale factor.

Every generator also returns what the oracle needs to check answers
without reading anything the program wrote.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SUPERCAT_SPAN = 5
#: Signal columns the dashboard templates aggregate; the oracle keeps
#: only these (every other signal column is still written and ingested).
ORACLE_CHANNELS = 8


@dataclass
class Session:
    patient: int
    year: int
    month: int
    day: int
    hour: int
    minute: int
    rows: int

    @property
    def patient_id(self) -> str:
        return f"P{self.patient:05d}"

    @property
    def test_time(self) -> str:
        return f"{self.hour}:{self.minute:02d}:00"

    @property
    def file_name(self) -> str:
        return (
            f"EEG-{self.year}{self.month:02d}{self.day:02d}-"
            f"{self.patient:03d}_{self.hour:02d}{self.minute:02d}.csv"
        )


@dataclass
class EegBatch:
    """One landed set of session files plus its oracle rows."""

    paths: list[str]
    sessions: list[Session]
    csv_bytes: int
    rows: int
    columns: int
    #: Timestamp/partition/channel values per data row, for DuckDB.
    oracle: pd.DataFrame = field(repr=False)


def plan_sessions(
    rng: np.random.Generator,
    n_patients: int,
    sessions_per_patient: int,
    months: list[tuple[int, int]],
    rows: int,
) -> list[Session]:
    """Patient p's k-th session falls in month (p + k) mod len(months),
    so every seed gives each month the same number of sessions, and
    days are distinct within a month, so each Year/Month/Day partition
    holds one session. The seed draws only days, start times and
    values: the store's layout, and with it the work a query does, is
    the same for every seed."""
    out = []
    for m, (year, month) in enumerate(months):
        patients = [
            p
            for p in range(1, n_patients + 1)
            for k in range(sessions_per_patient)
            if (p + k) % len(months) == m
        ]
        days = rng.choice(np.arange(1, 29), size=len(patients), replace=False)
        for p, day in zip(patients, days):
            out.append(
                Session(
                    patient=p,
                    year=year,
                    month=month,
                    day=int(day),
                    hour=int(rng.integers(0, 22)),
                    minute=int(rng.integers(0, 60)),
                    rows=rows,
                )
            )
    return out


def write_sessions(
    out_dir: str,
    sessions: list[Session],
    n_signals: int,
    rng: np.random.Generator,
) -> EegBatch:
    os.makedirs(out_dir, exist_ok=True)
    header = ["ClockDateTime", "Time"] + [f"S{i + 1}_1" for i in range(n_signals)]
    supercat = ["", ""] + [
        f"Group {1 + i // SUPERCAT_SPAN}" if i % SUPERCAT_SPAN == 0 else ""
        for i in range(n_signals)
    ]
    paths, frames, total = [], [], 0
    for s in sessions:
        start = int(
            datetime(s.year, s.month, s.day, s.hour, s.minute, tzinfo=timezone.utc).timestamp()
        )
        # 8-decimal text is the wire format; the oracle keeps the
        # parsed value of exactly that text.
        text = np.char.mod("%.8f", rng.uniform(-100.0, 100.0, size=(s.rows, n_signals)))
        values = text[:, :ORACLE_CHANNELS].astype(np.float64)
        seconds = start + np.arange(s.rows, dtype=np.int64)
        lines = [
            f"File,{s.file_name}",
            f"PatientName,Patient {s.patient:03d}",
            f"PatientID,{s.patient_id}",
            f"PatientBirthDate,{1950 + s.patient}/{1 + s.patient % 12}/{1 + s.patient % 27}",
            f"TestDate,{s.year}/{s.month}/{s.day}",
            f"TestTime,{s.test_time}",
            ",".join(supercat),
            ",".join(header),
        ]
        lines += [
            f"{sec / 1e5:.5f},{i}," + ",".join(row)
            for i, (sec, row) in enumerate(zip(seconds.tolist(), text.tolist()))
        ]
        path = os.path.join(out_dir, s.file_name)
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        total += os.path.getsize(path)
        paths.append(path)
        ts = pd.to_datetime(seconds, unit="s")
        frame = pd.DataFrame(
            {
                "PatientID": s.patient_id,
                "TestTime": s.test_time,
                "Timestamp": ts,
                "Year": ts.year.astype("int32"),
                "Month": ts.month.astype("int32"),
                "Day": ts.day.astype("int32"),
            }
        )
        for c in range(ORACLE_CHANNELS):
            frame[f"S{c + 1}_1"] = values[:, c]
        frames.append(frame)
    return EegBatch(
        paths=paths,
        sessions=list(sessions),
        csv_bytes=total,
        rows=sum(s.rows for s in sessions),
        columns=len(header),
        oracle=pd.concat(frames, ignore_index=True),
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped tables
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = np.datetime64("1992-01-01", "D")
ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02, as in TPC-H
TODAY = np.datetime64("1995-06-17", "D")  # TPC-H current date: splits status/flags


@dataclass
class TpchTables:
    data_dir: str
    rows: dict[str, int]
    bytes: int


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _write(data_dir: str, name: str, table: pa.Table) -> int:
    path = os.path.join(data_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return os.path.getsize(path)


def write_tpch(data_dir: str, sf: float, rng: np.random.Generator) -> TpchTables:
    os.makedirs(data_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [n for n, _ in NATIONS],
            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
        }
    )
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    tables["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    retail = np.round(900.0 + (pk % 20001) / 10.0 + 100.0 * (pk % 1000) / 1000.0, 2)
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"part {k}" for k in pk],
            "p_brand": [f"Brand#{1 + k % 5}{1 + k % 7 % 5}" for k in pk],
            "p_type": np.array(["PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"])[
                rng.integers(0, 6, n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )

    ok = np.arange(1, n_ord + 1, dtype=np.int64) * 4 - 3  # sparse keys, as in TPC-H
    o_days = rng.integers(0, ORDER_DAYS - 151, n_ord)
    n_lines = rng.integers(1, 8, n_ord)
    li_order = np.repeat(np.arange(n_ord), n_lines)
    n_li = int(li_order.size)
    line_no = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    l_part = rng.integers(1, n_part + 1, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * retail[l_part - 1], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship_days = o_days[li_order] + rng.integers(1, 122, n_li)
    shipped = EPOCH + ship_days.astype("timedelta64[D]") <= TODAY
    returnflag = np.where(shipped, np.where(rng.random(n_li) < 0.5, "R", "A"), "N")
    linestatus = np.where(shipped, "F", "O")
    # order status: F when every line shipped, O when none, P otherwise
    done = np.bincount(li_order, weights=shipped, minlength=n_ord)
    o_status = np.where(done == n_lines, "F", np.where(done == 0, "O", "P"))
    o_total = np.round(
        np.bincount(li_order, weights=price * (1 - disc) * (1 + tax), minlength=n_ord), 2
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(1, n_cust + 1, n_ord),
            "o_orderstatus": o_status,
            "o_totalprice": o_total,
            "o_orderdate": _ts(o_days),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": ok[li_order],
            "l_partkey": l_part,
            "l_suppkey": rng.integers(1, n_supp + 1, n_li),
            "l_linenumber": line_no,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": disc,
            "l_tax": tax,
            "l_returnflag": returnflag,
            "l_linestatus": linestatus,
            "l_shipdate": _ts(ship_days),
        }
    )

    # Extension tables: the catalog registers them as views, the
    # analyst mix never scans them, so they stay small.
    n_ext = 200
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ext, dtype=np.int64),
            "ts": _ts(rng.integers(0, ORDER_DAYS, n_ext)),
            "user_id": rng.integers(1, 50, n_ext),
            "event_type": np.array(["view", "click", "buy"])[rng.integers(0, 3, n_ext)],
            "value": np.round(rng.uniform(0, 100, n_ext), 2),
            "props": ['{"k": %d}' % k for k in rng.integers(0, 9, n_ext)],
        }
    )
    words = np.array(["alpha", "beta", "gamma", "delta", "eeg", "signal", "patient", "wave"])
    texts = [" ".join(words[rng.integers(0, 8, 12)]) for _ in range(n_ext)]
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_ext, dtype=np.int64),
            "text": texts,
            "lang": ["en"] * n_ext,
            "source": np.array(["web", "book"])[rng.integers(0, 2, n_ext)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_ext, dtype=np.int64),
            "embedding": pa.array(
                list(rng.standard_normal((n_ext, 8)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 4, n_ext), pa.int32()),
        }
    )
    size = sum(_write(data_dir, name, t) for name, t in tables.items())
    return TpchTables(data_dir, {k: t.num_rows for k, t in tables.items()}, size)
