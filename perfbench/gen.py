"""Seeded inputs for the benchmark.

Everything a workload feeds the program comes from here and depends
only on ``--seed``: the testdata tables the dashboard queries and the
OTLP request files of the ingest ticks.
The program under test never sees the seed, only what is generated.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000
MIN_US = 60_000_000

# sf0.1 row counts of the testdata tables the signal adapters read
N_EVENTS = 100_000
N_ORDERS = 15_000
N_LINEITEM = 60_000
EVENT_DAYS = 30
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``events``, ``orders`` and ``lineitem`` parquet files at
    sf0.1 size with the testdata schemas and value distributions
    (uniform categories, exponential event values, ~4 lines per
    order).  Returns the row count of each table."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, EVENT_DAYS * DAY_US, N_EVENTS)) + EPOCH_US
    events = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, N_EVENTS)),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]
            ),
        }
    )
    pq.write_table(events, f"{out_dir}/events.parquet")

    day0 = np.datetime64("1995-01-01", "D")
    n_days = 2400
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 15_000, N_ORDERS)),
            "o_orderstatus": pa.array(
                np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)]
            ),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1000.0, 500_000.0, N_ORDERS), 2)
            ),
            "o_orderdate": pa.array(
                (day0 + rng.integers(0, n_days, N_ORDERS)).astype("datetime64[us]")
            ),
            "o_orderpriority": pa.array(
                np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]
            ),
        }
    )
    pq.write_table(orders, f"{out_dir}/orders.parquet")

    okey = rng.integers(0, N_ORDERS, N_LINEITEM)
    # line numbers 1..k within each order, as TPC-H assigns them
    order = np.argsort(okey, kind="stable")
    sorted_keys = okey[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, N_LINEITEM]))
    linenumber = np.empty(N_LINEITEM, dtype=np.int32)
    linenumber[order] = (np.arange(N_LINEITEM) - run_start + 1).astype(np.int32)
    quantity = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, 20_000, N_LINEITEM)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, N_LINEITEM)),
            "l_linenumber": pa.array(linenumber),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900.0, 105_000.0, N_LINEITEM), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)]
            ),
            "l_linestatus": pa.array(
                np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)]
            ),
            "l_shipdate": pa.array(
                (day0 + rng.integers(0, n_days + 100, N_LINEITEM)).astype(
                    "datetime64[us]"
                )
            ),
        }
    )
    pq.write_table(lineitem, f"{out_dir}/lineitem.parquet")
    return {"events": N_EVENTS, "orders": N_ORDERS, "lineitem": N_LINEITEM}


# ---------------------------------------------------------------------------
# ingest: OTLP protobuf request files, in ticks
# ---------------------------------------------------------------------------

TICK_US = 10_000_000  # virtual time one tick covers
LOG_REQUESTS_PER_TICK = 4
LOG_RECORDS_PER_REQUEST = 250
HOSTS = 40  # live hosts per tick; CHURN of them are replaced each tick
CHURN = 2
ROUTES = ["/api/cart", "/api/checkout", "/api/pay"]
BOUNDS = [0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 1.0, 5.0]
METHODS = ["GET", "POST", "PUT"]
SEVERITIES = [(5, "DEBUG"), (9, "INFO"), (13, "WARN"), (17, "ERROR")]


@dataclass
class Tick:
    no: int
    start_us: int
    log_payloads: list
    metric_payloads: list
    n_log_records: int
    n_points: int  # rows the metric flattener emits
    series: set  # (name, sorted label items) the registry must hold


def ingest_ticks(seed: int, n: int) -> list[Tick]:
    """``n`` ticks of log and metric requests.  Tick ``k`` covers
    virtual time [start, start + TICK_US); every record and point
    lies strictly inside it.  Metrics: per live host a gauge, a
    monotonic sum per route and an explicit-bucket histogram; CHURN
    hosts retire and CHURN new ones appear every tick."""
    from oteldb_spark.sources import otlp_pb as pb

    rng = random.Random(f"ingest-{seed}")
    base_us = EPOCH_US + rng.randrange(0, EVENT_DAYS) * DAY_US
    live = list(range(HOSTS))
    next_host = HOSTS
    counters: dict[tuple, float] = {}
    ticks = []
    for k in range(n):
        start = base_us + k * TICK_US

        def ts_ns() -> int:
            return (start + rng.randrange(1, TICK_US)) * 1000

        log_payloads = []
        for i in range(LOG_REQUESTS_PER_TICK):
            svc = f"svc-{(k * LOG_REQUESTS_PER_TICK + i) % 8}"
            recs = []
            for _ in range(LOG_RECORDS_PER_REQUEST):
                sev_no, sev = rng.choice(SEVERITIES)
                status = rng.choice((200, 200, 200, 201, 404, 500))
                method = rng.choice(METHODS)
                body = (
                    f'{{"method":"{method}","url":"{rng.choice(ROUTES)}",'
                    f'"status":{status},"bytes":{rng.randrange(100, 9000)},'
                    f'"took":"{rng.randrange(1, 900)}ms"}}'
                )
                recs.append(
                    pb.enc_log_record(
                        time_ns=ts_ns(),
                        severity_number=sev_no,
                        severity_text=sev,
                        body=body,
                        attrs={"http.method": method, "http.status_code": str(status)},
                    )
                )
            log_payloads.append(
                pb.enc_logs_request({"service.name": svc, "env": "prod"}, recs)
            )

        if k:
            for _ in range(CHURN):
                live.pop(rng.randrange(len(live)))
                live.append(next_host)
                next_host += 1
        series: set = set()
        n_points = 0
        by_request: list[list[bytes]] = [[], []]
        for j, h in enumerate(live):
            host = {"instance": f"host-{h}"}
            metrics = by_request[j % 2]
            metrics.append(
                pb.enc_gauge_metric(
                    "node_load1", "1",
                    [pb.enc_number_point(time_ns=ts_ns(), value=round(rng.uniform(0, 8), 3),
                                         attrs=host)],
                )
            )
            series.add(("node_load1", tuple(sorted(host.items()))))
            pts = []
            for route in ROUTES:
                lab = {**host, "route": route}
                key = (h, route)
                counters[key] = counters.get(key, 0.0) + rng.randrange(1, 50)
                pts.append(pb.enc_number_point(time_ns=ts_ns(), value=counters[key], attrs=lab))
                series.add(("http_requests_total", tuple(sorted(lab.items()))))
            metrics.append(pb.enc_sum_metric("http_requests_total", "1", pts))
            counts = [rng.randrange(0, 20) for _ in range(len(BOUNDS) + 1)]
            metrics.append(
                pb.enc_histogram_metric(
                    "http_latency_seconds", "s",
                    [pb.enc_histogram_point(time_ns=ts_ns(), bucket_counts=counts,
                                            explicit_bounds=BOUNDS,
                                            sum_=round(sum(counts) * 0.07, 3), attrs=host)],
                )
            )
            hs = tuple(sorted(host.items()))
            series.add(("http_latency_seconds_sum", hs))
            series.add(("http_latency_seconds_count", hs))
            for le in [pb._fmt_bound_py(b) for b in BOUNDS] + ["+Inf"]:
                series.add(("http_latency_seconds_bucket", tuple(sorted({**host, "le": le}.items()))))
            n_points += 1 + len(ROUTES) + 2 + len(BOUNDS) + 1
        metric_payloads = [
            pb.enc_metrics_request({"service.name": "node-exporter"}, ms) for ms in by_request
        ]
        ticks.append(
            Tick(k, start, log_payloads, metric_payloads,
                 LOG_REQUESTS_PER_TICK * LOG_RECORDS_PER_REQUEST, n_points, series)
        )
    return ticks

