"""Seeded OCPP 1.6 fleet generator for the benchmark.

A frozen copy of the adversarial generator in
``tests/test_ocpp_dag_property.py`` (``Gen`` and ``_charger_timeline``),
extended with a per-day loop so one fleet spans several days and can be
split into a base state and a last-day incremental batch. It is frozen
here so that a change to the test harness never changes what the
benchmark measures.

Determinism rules, kept from the original (both Spark and the DuckDB
oracle must agree to the bit):

- every charger has its own millisecond offset, so no ``ORDER BY
  ingested_ts`` within a charger or a location meets an exact tie;
- every meter value is an exact binary fraction (multiples of 0.25),
  so averages are one exact division in both engines;
- at-least-once duplicate deliveries draw from a separate per-charger
  stream, so they are purely additive rows.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import json
import os
import random

BASE = dt.datetime(2025, 10, 2, 6, 0, 0)
LOGS_NAME = "ocpp_1_6_synthetic_logs_14d.csv"
FILES = (LOGS_NAME, "chargers.csv", "ports.csv", "connectors.csv")


class Gen:
    def __init__(self, charger: str, offset_ms: int, start_hours: int = 0):
        self.charger = charger
        self.offset_ms = offset_ms
        self.start_hours = start_hours
        self.t = BASE + dt.timedelta(milliseconds=offset_ms)
        self.rows: list[tuple[str, str, str, str]] = []
        self._uid = 0
        self.dup_rng = random.Random(f"dup-{charger}")

    def start_day(self, day: int) -> None:
        self.t = BASE + dt.timedelta(days=day, hours=self.start_hours,
                                     milliseconds=self.offset_ms)

    def uid(self, prefix: str) -> str:
        self._uid += 1
        return f"{prefix}-{self.charger}-{self._uid:04d}"

    def ts(self) -> str:
        return self.t.isoformat(timespec="milliseconds") + "Z"

    def advance(self, seconds: float) -> None:
        self.t += dt.timedelta(seconds=seconds)

    def call(self, action: str, payload: dict, conf_payload=None, conf_delay=0.1):
        uid = self.uid(action[:5].lower())
        self.rows.append(
            (self.ts(), self.charger, action, json.dumps([2, uid, action, payload]))
        )
        if conf_payload is not None:
            conf_t = self.t + dt.timedelta(seconds=conf_delay)
            self.rows.append(
                (conf_t.isoformat(timespec="milliseconds") + "Z", self.charger, "",
                 json.dumps([3, uid, conf_payload]))
            )
        return uid

    def status(self, connector: int, status: str, error="NoError", conf_delay=0.1):
        # Advance first: two status rows of one charger never share a
        # timestamp (a tie would make ORDER BY ingested_ts ambiguous).
        self.advance(1)
        before = len(self.rows)
        self.call(
            "StatusNotification",
            {"connectorId": connector, "status": status, "errorCode": error},
            conf_payload=None if conf_delay is None else {},
            conf_delay=conf_delay or 0.1,
        )
        # Verbatim redelivery: identical in every column, so any order
        # of the pair is the same result.
        if self.dup_rng.random() < 0.08:
            self.rows.append(self.rows[before])

    def heartbeat(self):
        self.call("Heartbeat", {}, conf_payload={"currentTime": self.ts()})


def _session(g: Gen, rng, connector: int, meter: int, txn_id: int, id_tag):
    """One charge attempt with randomized boundary timings; returns the
    meter register after the session."""
    conf_delay = rng.choice([0.1, 5.0, 14.8, 15.0, 15.2, None])
    g.status(connector, "Preparing", conf_delay=conf_delay)
    if id_tag and rng.random() < 0.7:
        g.advance(rng.choice([1, 5]))
        g.call("Authorize", {"idTag": id_tag},
               conf_payload={"idTagInfo": {"status": rng.choice(["Accepted", "Blocked"])}})
    if rng.random() < 0.4:
        for gap in rng.choice([[10], [44], [46], [10, 44]]):
            g.advance(gap)
            g.call("RemoteStartTransaction",
                   {"connectorId": connector, "idTag": id_tag or "TAG-REMOTE"},
                   conf_payload={"status": "Accepted"})
    start_delay = rng.choice([1, 30, 299, 300, 301])
    g.advance(start_delay)
    has_start = rng.random() < 0.85
    started = False
    if has_start:
        start_conf = (
            {"transactionId": txn_id, "idTagInfo": {"status": "Accepted"}}
            if rng.random() < 0.85 else None
        )
        g.call("StartTransaction",
               {"connectorId": connector, "idTag": id_tag or "TAG-ANON",
                "timestamp": g.ts(), "meterStart": meter},
               conf_payload=start_conf, conf_delay=0.2)
        started = True
        g.advance(2)
        g.status(connector, "Charging")
        for _ in range(rng.randint(1, 3)):
            g.advance(rng.choice([60, 300, 900]))
            v = meter + rng.choice([0, 25, 150, 2000])
            g.call("MeterValues", {
                "connectorId": connector, "transactionId": txn_id,
                "meterValue": [{
                    "timestamp": g.ts(),
                    "sampledValue": [
                        {"value": f"{v}.0", "unit": "Wh",
                         "measurand": "Energy.Active.Import.Register"},
                        {"value": f"{210 + (v % 8) * 0.25}", "unit": "V",
                         "measurand": "Voltage", "phase": "L1"},
                        {"value": f"{(v % 16) * 0.25}", "unit": "A",
                         "measurand": "Current.Import", "phase": "L1"},
                    ],
                }],
            }, conf_payload={})
        meter += rng.choice([50, 99, 100, 150, 2500])
        if rng.random() < 0.85:
            g.advance(rng.choice([30, 120]))
            stop = {"transactionId": txn_id, "meterStop": meter, "timestamp": g.ts()}
            reason = rng.choice(["EVDisconnected", "Local", "Remote", "PowerLoss", None])
            if reason is not None:
                stop["reason"] = reason
            g.call("StopTransaction", stop, conf_payload={})
    g.advance(2)
    if rng.random() < 0.2 and started:
        g.status(connector, "Charging")  # repeated non-change
    g.status(connector, rng.choice(["Finishing", "Available"]))
    g.advance(1)
    g.status(connector, "Available")
    return meter


def _charger_timeline(g: Gen, rng, connectors: list[int], tags: list,
                      meter: int, txn: int) -> tuple[int, int]:
    """One charger-day; returns the (meter, next transaction id) the next
    day continues from, so transaction ids never repeat on a charger."""
    hb = rng.choice([240, 299, 301, 600])
    for c in connectors:
        g.status(c, "Available")
        g.advance(1)
    for _ in range(rng.randint(1, 4)):
        conn = rng.choice(connectors)
        meter = _session(g, rng, conn, meter, txn, rng.choice(tags))
        txn += 1
        for _ in range(rng.randint(1, 3)):
            g.advance(hb)
            g.heartbeat()
        g.advance(60 * rng.choice([1, 2, 3, 29, 30, 31, 45]))
    if rng.random() < 0.35:
        bad = connectors if rng.random() < 0.5 else connectors[:1]
        for c in bad:
            g.status(c, "Faulted", error="GroundFailure")
            g.advance(2)
        g.advance(rng.choice([300, 900]))
        for c in bad:
            g.status(c, "Available")
            g.advance(2)
    g.advance(hb)
    g.heartbeat()
    return meter, txn


def generate(base_seed: int, seed: int, chargers: int, days: int) -> dict[str, list[tuple]]:
    """Rows of the four source files for one fleet. The dims and every
    day but the last draw from ``base_seed``; the last day draws from
    ``seed``. The last charger sends no messages (dims only); charger 5
    is decommissioned inside the window."""
    rng = random.Random(base_seed)
    dims, ports, conns, timelines = [], [], [], []
    for i in range(chargers):
        ch = f"CH-P{i:03d}"
        loc = f"LOC-P{i // 3:02d}"
        commissioned = rng.choice(["2025-09-20T00:00:00.000Z", "2025-10-05T12:00:00.000Z"])
        decommissioned = "2025-10-20T09:30:00.000Z" if i == 5 else ""
        dims.append((ch, loc, commissioned, decommissioned))
        conn_ids, conn_no = [], 1
        for p in range(1, rng.randint(1, 2) + 1):
            ports.append((ch, str(p)))
            for _ in range(rng.randint(1, 2)):
                conns.append((ch, str(p), str(conn_no), rng.choice(["CCS", "NACS"])))
                conn_ids.append(conn_no)
                conn_no += 1
        if i == chargers - 1:
            continue
        # Days start at 06:00, 12:00, 18:00 or 23:00, so the late
        # chargers' sessions, outages and visits run past midnight and
        # straddle the incremental batch boundary.
        g = Gen(ch, offset_ms=i * 7 + 1, start_hours=(0, 6, 12, 17)[i % 4])
        tags = [f"TAG-{loc}-A", f"TAG-{loc}-B", None]
        timelines.append([g, conn_ids, tags,
                          2_000_000 + rng.randrange(100) * 1000, 1000 + rng.randrange(50)])
    for day in range(days):
        if day == days - 1:
            rng = random.Random(seed)
        for tl in timelines:
            g, conn_ids, tags, meter, txn = tl
            g.start_day(day)
            tl[3], tl[4] = _charger_timeline(g, rng, conn_ids, tags, meter, txn)
    logs = sorted(r for tl in timelines for r in tl[0].rows)
    return {
        LOGS_NAME: [("timestamp", "id", "action", "msg"), *logs],
        "chargers.csv": [("charge_point_id", "location_id", "commissioned_ts",
                          "decommissioned_ts"), *dims],
        "ports.csv": [("charge_point_id", "port_id"), *ports],
        "connectors.csv": [("charge_point_id", "port_id", "connector_id",
                            "connector_type"), *conns],
    }


def write_fleet(out_dir: str, tables: dict[str, list[tuple]]) -> str:
    """Write the CSVs and return the sha256 over their bytes, file by
    file in a fixed order."""
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    for name in FILES:
        path = os.path.join(out_dir, name)
        with open(path, "w", newline="") as f:
            csv.writer(f).writerows(tables[name])
        with open(path, "rb") as f:
            digest.update(name.encode() + b"\0" + f.read())
    return digest.hexdigest()


def day_start(day: int) -> str:
    """Raw ISO prefix of midnight before a generated day: every row
    generated for an earlier day that sorts at or after it ran past
    midnight into ``day``."""
    return (BASE.replace(hour=0) + dt.timedelta(days=day)).strftime("%Y-%m-%dT%H")
