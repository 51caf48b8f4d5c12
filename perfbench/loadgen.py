"""Load generator for the server workloads; runs as its own process so the
clients do not share the server's interpreter lock.

Reads one JSON config object on stdin, drives closed-loop clients against
the HTTP and RPC listeners until ``seconds`` have passed, and prints one
JSON object with every operation it attempted on stdout.

Query mix (``dashboard``): each client walks a fixed cycle of slots, each
a channel (``/query``; ``/immediate`` with ``Cache-control: no-cache``;
RPC ``Client.query``) and a kind: a hot text (drawn once from the seed, one
per hot template) or a fresh draw of one of the fresh templates, whose
distinct ``LIMIT`` misses the engine's 64-entry plan cache. The slot order
and the template rotation do not depend on the seed, and each client
starts at another point of both, so every run sends the same mix and every
template is reached in every window.

``ingest_mix`` runs one writer, streaming fixed-size batches through the
RPC ``Inserter``, and one reader sending hot texts to ``/query``.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import random
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import points  # noqa: E402
from templates import BY_NAME, TEMPLATES  # noqa: E402
from zenodb_spark.rpc import Client  # noqa: E402

HTTP_TIMEOUT = 60.0


def _epoch(v) -> float:
    d = dt.datetime.fromisoformat(str(v).replace("Z", "+00:00"))
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    return d.timestamp()


def _rows_from_columns(cols: list[str], rows: list[list]) -> list[dict]:
    out = []
    for r in rows:
        rec = dict(zip(cols, r))
        if rec.get("_time") is not None:
            rec["_time"] = _epoch(rec["_time"])
        out.append(rec)
    return out


def _rows_from_result(res: dict) -> list[dict]:
    """Rows of a gzipped ``QueryResult`` (the /immediate payload)."""
    out = []
    for r in res["Rows"]:
        rec = {"_time": r["TS"] / 1000.0, **r["Key"]}
        rec.update(zip(res["Fields"], r["Vals"]))
        out.append(rec)
    return out


class Clients:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.http = "http://%s:%d" % tuple(cfg["http"])
        self.rpc = Client(*cfg["rpc"], timeout=HTTP_TIMEOUT)
        self.deadline = 0.0
        self.t0 = 0.0
        self.queries: list[dict] = []
        self.inserts: list[dict] = []
        self.lock = threading.Lock()
        self.first_ack = threading.Event()

    # -- one query over one channel -------------------------------------------
    def run_query(self, sql: str, chan: str) -> list[dict]:
        if chan == "rpc":
            fields, rows = self.rpc.query(sql)
            return _rows_from_columns(fields, list(rows))
        url = f"{self.http}/{chan}?" + urllib.parse.urlencode({"sql": sql})
        headers = {"Cache-control": "no-cache"} if chan == "immediate" else {}
        req = urllib.request.Request(url, headers=headers)
        with urllib.request.urlopen(req, timeout=HTTP_TIMEOUT) as resp:
            body = resp.read()
            if resp.status != 200:
                raise RuntimeError(f"HTTP {resp.status}: {body[:200]!r}")
            if resp.headers.get("Content-Encoding") == "gzip":
                body = gzip.decompress(body)
        res = json.loads(body)
        if chan == "immediate":
            return _rows_from_result(res)
        return _rows_from_columns(res["columns"], res["rows"])

    def query_op(self, rng: random.Random, seen: set, tmpl: str, args: dict, chan: str,
                 hot: bool) -> None:
        sql = BY_NAME[tmpl].sql(args)
        start = time.perf_counter()
        rec = {"t": tmpl, "a": args, "sql": sql, "chan": chan, "hot": hot,
               "start": start - self.t0, "ok": True, "err": None}
        try:
            rows = self.run_query(sql, chan)
        except urllib.error.HTTPError as e:
            rec["ok"], rec["err"] = False, f"HTTP {e.code}: {e.read()[:200]!r}"
        except Exception as e:  # every failure is counted, never fatal
            rec["ok"], rec["err"] = False, f"{type(e).__name__}: {e}"[:300]
        rec["ms"] = (time.perf_counter() - start) * 1000.0
        # the first response of each template on each channel is always
        # checked, so every template is checked in every run
        first = (tmpl, chan) not in seen
        seen.add((tmpl, chan))
        if rec["ok"] and (first or rng.random() < self.cfg["sample_share"]):
            rec["rows"] = rows
        with self.lock:
            self.queries.append(rec)

    # -- client loops -----------------------------------------------------------
    def reader(self, cid: int, hot: list[tuple[str, dict]], cycle: list) -> None:
        """Closed loop over a fixed cycle of (channel, hot|fresh) slots, each
        kind spaced evenly through the cycle; hot texts and fresh templates
        are taken in turn. Client ``cid`` of ``clients`` starts that share
        of the way into the cycle and into each template pool, so the
        clients do not send the same query at the same time and between
        them reach every template early in the window."""
        rng = random.Random(self.cfg["seed"] * 1009 + cid)
        n = self.cfg["n_points"]
        share = cid / self.cfg.get("clients", 1)
        slots = sorted(((j + 0.5) / k, i, chan, kind)
                       for i, (chan, kind, k) in enumerate(cycle) for j in range(k))
        slots = [(chan, kind) for *_, chan, kind in slots]
        fresh = [BY_NAME[t] for t in self.cfg.get("fresh_templates", [])]
        turn: dict[tuple[str, str], int] = {}
        seen: set = set()
        self.first_ack.wait()  # ingest_mix: the store is empty until then
        i = int(share * len(slots))
        while time.perf_counter() < self.deadline:
            chan, kind = slots[i % len(slots)]
            i += 1
            k = turn[(chan, kind)] = turn.get((chan, kind), -1) + 1
            imm = chan == "immediate"
            if kind == "hot":
                pool = [h for h in hot if not imm or BY_NAME[h[0]].immediate]
                tmpl, args = pool[(k + int(share * len(pool))) % len(pool)]
            else:
                pool = [t for t in fresh if not imm or t.immediate]
                t = pool[(k + int(share * len(pool))) % len(pool)]
                tmpl, args = t.name, t.draw(rng, n)
            self.query_op(rng, seen, tmpl, args, chan, kind == "hot")

    def writer(self) -> None:
        cfg = self.cfg
        b = cfg["batch"]
        cols = points.generate(cfg["seed"], cfg["n_points"], late_share=cfg["late_share"],
                               late_days=cfg["late_days"])
        i = 0
        while time.perf_counter() < self.deadline and (i + 1) * b <= cfg["n_points"]:
            msgs = points.to_messages(cols, i * b, (i + 1) * b)
            start = time.perf_counter()
            rec = {"i": i, "start": start - self.t0, "ok": True, "err": None}
            try:
                ins = self.rpc.new_inserter("points")
                for ts, dims, vals in msgs:
                    ins.insert(ts, dims, vals)
                report = ins.close()
                if report.get("succeeded") != b or report.get("errors"):
                    rec["ok"], rec["err"] = False, f"report {report}"[:300]
            except Exception as e:
                rec["ok"], rec["err"] = False, f"{type(e).__name__}: {e}"[:300]
            rec["ms"] = (time.perf_counter() - start) * 1000.0
            self.inserts.append(rec)
            if not rec["ok"]:
                break  # later batches would not line up with the reference
            self.first_ack.set()
            i += 1
        self.first_ack.set()

    def run(self) -> dict:
        cfg = self.cfg
        hot_rng = random.Random(cfg["seed"])
        hot = [(t.name, t.draw(hot_rng, cfg["n_points"]))
               for t in TEMPLATES if t.name in cfg["hot_templates"]]
        threads = []
        if cfg["mode"] == "dashboard":
            self.first_ack.set()
            for cid in range(cfg["clients"]):
                threads.append(threading.Thread(target=self.reader,
                                                args=(cid, hot, cfg["cycle"])))
        else:
            threads.append(threading.Thread(target=self.writer))
            threads.append(threading.Thread(target=self.reader,
                                            args=(0, hot, [("query", "hot", 1)])))
        self.t0 = time.perf_counter()
        self.deadline = self.t0 + cfg["seconds"]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return {"window_s": time.perf_counter() - self.t0,
                "queries": self.queries, "inserts": self.inserts}


def main() -> int:
    cfg = json.loads(sys.stdin.read())
    out = Clients(cfg).run()
    sys.stdout.write(json.dumps(out) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
