"""Output checks, run after the timed region.

The pipeline checks recompute the ETL's two published tables from the
raw events with pandas/NumPy alone — integer cents, no Spark — and
compare them with what the program committed:

- ``ventas`` (``io.sinks.read_merge_table``): per-user payment split,
  waterfall and QA tag over every ingested event;
- stock points (``io.atomic.read_committed``): the reset-aware replay per
  SKU, start-of-day stock, change points only.

Points are compared in canonical form: a tick re-emits the first day of
its slice for every SKU it touches, even when the stock did not change,
so rows that repeat the previous point's stock are dropped before the
comparison. The as-of stock on every day is the same either way.

The query check runs each registry query's DuckDB oracle over the same
generated events and compares with ``tools/check_parity.compare``.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cents(values) -> np.ndarray:
    """Money → int64 cents (floats carry two decimals; Decimals exact)."""
    return np.array([round(float(v) * 100) for v in values], dtype=np.int64)


def _events_frame(events: pa.Table) -> pd.DataFrame:
    df = pd.DataFrame({
        "event_id": events["event_id"].to_numpy(),
        "ts_us": events["ts"].cast(pa.int64()).to_numpy(),
        "user_id": events["user_id"].to_numpy(),
        "event_type": events["event_type"].to_numpy(zero_copy_only=False),
    })
    df["cents"] = np.round(events["value"].to_numpy() * 100).astype(np.int64)
    return df


def expected_ventas(events: pa.Table) -> pd.DataFrame:
    """EP1 over all events: per user raw sums, then the payment
    normalization (waterfall, no-flow override, QA tag)."""
    ev = _events_frame(events)
    ev["ef"] = np.where(ev["event_type"] == "purchase", ev["cents"], 0)
    ev["ta"] = np.where(ev["event_type"] == "click", ev["cents"], 0)
    g = ev.groupby("user_id").agg(
        efectivo_in=("ef", "sum"), tarjeta_in=("ta", "sum"),
        total_venta=("cents", "sum"), fecha_hora=("ts_us", "max"),
        last_event_id=("event_id", "max"),
    ).reset_index()
    tot, ef_in, ta_in = g["total_venta"], g["efectivo_in"], g["tarjeta_in"]
    ef = np.minimum(ef_in, tot)
    ta = np.minimum(ta_in, tot - ef)
    ot = np.maximum(tot - ef - ta, 0)
    no_flow = (ef_in == 0) & (ta_in == 0)
    g["efectivo"] = np.where(no_flow, tot, ef)
    g["tarjeta"] = np.where(no_flow, 0, ta)
    g["otros"] = np.where(no_flow, 0, ot)
    paid = g["efectivo"] + g["tarjeta"] + g["otros"]
    rules = [  # first match wins, as in the when/otherwise chain
        ((tot == 0) & (paid == 0), "sin_monto"),
        (paid == tot, None),
        ((paid == 0) & (tot > 0), "sin_pago"),
        (paid > tot, "pago_excedente"),
        ((paid < tot) & (tot > 0), "pago_incompleto"),
    ]
    tags = pd.Series("devolucion_excedida", index=g.index, dtype=object)
    for cond, tag in reversed(rules):
        tags[cond] = tag
    g["payment_issue"] = tags
    return g.sort_values("user_id").reset_index(drop=True)


def actual_ventas(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pd.DataFrame({"user_id": pdf["user_id"].astype(np.int64)})
    for c in ("efectivo_in", "tarjeta_in", "total_venta", "efectivo", "tarjeta", "otros"):
        out[c] = _cents(pdf[c])
    ts = pd.to_datetime(pdf["fecha_hora"])
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    out["fecha_hora"] = ts.astype("datetime64[us]").astype("int64")
    out["last_event_id"] = pdf["last_event_id"].astype(np.int64)
    out["payment_issue"] = pdf["payment_issue"].where(pdf["payment_issue"].notna(), None)
    return out.sort_values("user_id").reset_index(drop=True)


def expected_points(events: pa.Table) -> pd.DataFrame:
    """EP3 over all events: per SKU ordered by (ts, id), ``signup`` resets
    the balance to its value, ``error`` subtracts, the rest add. The
    start-of-day stock of day d is the end-of-day stock of the last
    movement day before d (0 before the first); points are the first
    movement day (stock 0) and each later day whose stock changed."""
    ev = _events_frame(events).sort_values(["user_id", "ts_us", "event_id"])
    is_abs = (ev["event_type"] == "signup").to_numpy()
    delta = np.where(is_abs, 0, np.where(ev["event_type"] == "error", -ev["cents"], ev["cents"]))
    seg = pd.Series(is_abs.astype(np.int64), index=ev.index).groupby(ev["user_id"]).cumsum()
    base = np.where(is_abs, ev["cents"], 0)
    ev = ev.assign(seg=seg.to_numpy(), delta=delta, base=base)
    seg_base = ev.groupby(["user_id", "seg"])["base"].transform("first")
    ev["running"] = seg_base + ev.groupby(["user_id", "seg"])["delta"].cumsum()
    ev["day"] = ev["ts_us"] // 86_400_000_000
    eod = ev.groupby(["user_id", "day"], sort=True)["running"].last().reset_index()
    eod["prev"] = eod.groupby("user_id")["running"].shift(1).fillna(0).astype(np.int64)
    first = eod.groupby("user_id").head(1)
    start = pd.DataFrame({"user_id": first["user_id"], "day": first["day"], "sod": 0})
    moved = eod[eod["running"] != eod["prev"]]
    changes = pd.DataFrame({"user_id": moved["user_id"], "day": moved["day"] + 1,
                            "sod": moved["running"]})
    pts = pd.concat([start, changes]).sort_values(["user_id", "day"])
    return pts.rename(columns={"user_id": "art_id"}).reset_index(drop=True)


def actual_points(pdf: pd.DataFrame) -> pd.DataFrame:
    """Committed points in canonical form (repeats of the previous
    point's stock dropped, first point per SKU kept)."""
    epoch = dt.date(1970, 1, 1)
    df = pd.DataFrame({
        "art_id": pdf["art_id"].astype(np.int64),
        "day": [(d - epoch).days for d in pdf["point_date"]],
        "sod": _cents(pdf["sod_stock"]),
    }).sort_values(["art_id", "day"]).reset_index(drop=True)
    prev = df.groupby("art_id")["sod"].shift(1)
    keep = prev.isna() | (df["sod"] != prev)
    return df[keep].reset_index(drop=True)


def diff_frames(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Exact comparison of two frames with the same columns; a short
    description of the first differences, empty when equal."""
    got, want = got.reset_index(drop=True), want.reset_index(drop=True)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    problems = []
    for c in want.columns:
        a, b = got[c], want[c]
        eq = (a == b) | (a.isna() & b.isna())
        if not eq.all():
            i = int((~eq).to_numpy().argmax())
            problems.append(f"{name}.{c}: {int((~eq).sum())} mismatches, first row {i}: "
                            f"got {a.iloc[i]!r}, expected {b.iloc[i]!r}")
    return problems


def read_events(events_dir: str) -> pa.Table:
    files = sorted(f for f in os.listdir(events_dir) if f.endswith(".parquet"))
    return pa.concat_tables([pq.read_table(os.path.join(events_dir, f)) for f in files])


def check_lake(spark, lake: dict[str, str]) -> list[str]:
    """Compare the lake's ``ventas`` and stock points with a recomputation
    over every event in ``lake['events_path']``."""
    from osmart_etl_spark.io.atomic import read_committed
    from osmart_etl_spark.io.sinks import read_merge_table

    events = read_events(lake["events_path"])
    ventas = read_merge_table(spark, lake["ventas_path"]).toPandas()
    points = read_committed(spark, lake["points_path"]).toPandas()
    return (diff_frames("ventas", actual_ventas(ventas), expected_ventas(events))
            + diff_frames("points", actual_points(points), expected_points(events)))


def parity_compare():
    """``tools/check_parity.compare``, imported from the repository."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from tools.check_parity import compare

    return compare


def check_queries(sf_dir: str, results: dict[str, pd.DataFrame],
                  oracles: dict[str, str]) -> list[str]:
    """Each query's collected result against its DuckDB oracle over the
    ``events`` table in ``sf_dir``."""
    import duckdb

    compare = parity_compare()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/events.parquet')")
        problems = []
        for name, got in results.items():
            want = con.execute(oracles[name]).fetchdf()
            problems += [f"{name}: {p}" for p in compare(name, got, want)]
        return problems
    finally:
        con.close()
