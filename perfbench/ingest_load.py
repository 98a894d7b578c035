"""The two ingest workloads: HTTP gateway → landing files → streaming
micro-batch → file destination → delivery ledger, driven over real
sockets against ``KassetteServer``.

- ``ingest_steady``: open loop of bursts into one connection: every
  6 s (three trigger intervals), 50 requests of 10 events sent at 100
  requests/s (1,000 events/s for half a second). About 3 % of requests
  re-send an earlier request's messageIds (a client retry) and about
  1 % carry a bad write key. Each event is timed from its scheduled
  send time.
- ``ingest_backlog``: closed loop, one client posting 100-event
  requests back to back into one source read by two connections, so
  every event is delivered twice; then the run drains.

Latency of an event is scheduled send → return of the wrapped
``DeliveryLedger.append`` call that committed its succeeded row. The
commit is found after the run: the row's ledger file mtime falls in
exactly one append call, the first one to return after it.
"""

from __future__ import annotations

import base64
import http.client
import json
import math
import os
import random
import threading
from datetime import datetime, timezone

from harness import (Tracer, cpu_steal, cpu_steal_frac, fresh_dir, host_probe_s, now, quantile,
                     tail_quantile)

WRITE_KEY = "perfbench-wk"
BAD_KEY = "perfbench-bad"
SOURCE = {
    "id": 1, "name": "perfbench", "write_key": WRITE_KEY,
    "schema": {"table_name": "ev", "schema_fields": [
        {"name": "event_id", "type": "STRING", "mode": "view", "primary_key": False},
        {"name": "n", "type": "INT", "mode": "view", "primary_key": False},
        {"name": "label", "type": "STRING", "mode": "view", "primary_key": False},
    ]},
}
DESTINATION = {
    "id": 2, "name": "files", "type": "postgres",  # no host: the file sender
    "schema": {"table_name": "ev", "schema_fields": [
        {"name": "event_id", "type": "VARCHAR", "mode": "view", "primary_key": False},
        {"name": "n", "type": "INT", "mode": "view", "primary_key": False},
        {"name": "label", "type": "VARCHAR", "mode": "view", "primary_key": False},
    ]},
}
#: ingest_steady sends bursts of BURST_REQUESTS requests of 10 events at
#: BURST_RATE requests/s, one every BURST_EVERY_S. A burst lands before
#: the next trigger fires and its micro-batch ends before the next burst
#: is sent, so every burst is one micro-batch started on the trigger's
#: grid and no batch queues behind another: latency is the flush, the
#: trigger wait and one batch's fixed costs. (A steady 500 events/s
#: kept the pipeline at the point where a batch takes about as long as
#: the 2 s trigger interval, so latency jumped between runs with the
#: host's speed; perfbench/NOTES.md.)
BURST_REQUESTS = 50
BURST_RATE = 100
BURST_EVERY_S = 6.0
BOOTS = 3  # server boots per run; setup_s takes their median
#: seconds of the same bursts, one per trigger interval, run untimed
#: before measuring: the first micro-batches of a fresh JVM run up to
#: twice as long while its JIT compiler catches up, and a single warm-up
#: batch left runs measured at 2.1 s or 4.3 s per batch depending on how
#: far it got
WARM_UP_S = 10
#: the connection queries' processing-time trigger; Spark fires it on
#: multiples of the interval since the epoch, and the open loop starts
#: at a fixed phase of that grid so runs differ only by their inputs
TRIGGER_S = 2.0
START_PHASE_S = 0.25
#: gateway timeout-flush cadence, as the standalone server's loop; the
#: ticks fall on multiples of it since the epoch, so a burst's last
#: requests land at the same point of the trigger's grid in every run
TICK_S = 0.5
DRAIN_TIMEOUT_S = 120.0


# -- inputs ---------------------------------------------------------------
def _event(rng: random.Random, mid: str) -> dict:
    return {
        "event_id": mid, "messageId": mid, "n": rng.randrange(1_000_000),
        "label": rng.choice(("view", "click", "buy", "search")) * rng.randint(1, 4),
        "userId": f"u{rng.randrange(1000)}", "type": "track",
        "originalTimestamp": "2024-03-04T05:00:00.000Z", "sentAt": "2024-03-04T05:00:00.000Z",
    }


def make_requests(workload: str, seed: int, seconds: int, prefix: str = "",
                  every: float = BURST_EVERY_S) -> list[dict]:
    """The request list: body, write key, due offset (open loop only,
    one burst every ``every`` seconds); every messageId starts with
    ``prefix``."""
    rng = random.Random(seed)
    reqs: list[dict] = []
    if workload == "ingest_steady":
        good: list[int] = []
        n_bursts = max(1, math.ceil(seconds / every))
        for i in range(n_bursts * BURST_REQUESTS):
            b, j = divmod(i, BURST_REQUESTS)
            r = rng.random()
            if r < 0.01:
                key, kind, batch = BAD_KEY, "bad", [_event(rng, f"{prefix}b{i}-{k}") for k in range(10)]
            elif r < 0.04 and good:
                key, kind, batch = WRITE_KEY, "resend", reqs[rng.choice(good)]["batch"]
            else:
                key, kind, batch = WRITE_KEY, "new", [_event(rng, f"{prefix}m{i}-{k}") for k in range(10)]
                good.append(i)
            reqs.append({"batch": batch, "key": key, "kind": kind,
                         "due": b * every + j / BURST_RATE})
    else:  # ingest_backlog: 2,000 events per measured second, 100 per request
        for i in range(seconds * 20):
            batch = [_event(rng, f"{prefix}m{i}-{k}") for k in range(100)]
            reqs.append({"batch": batch, "key": WRITE_KEY, "kind": "new", "due": None})
    return reqs


# -- HTTP client ----------------------------------------------------------
class Client:
    def __init__(self, address: str):
        host, port = address.split("//", 1)[1].rsplit(":", 1)
        self.conn = http.client.HTTPConnection(host, int(port), timeout=30)

    def post(self, path: str, doc, key: str | None = None) -> int:
        headers = {"Content-Type": "application/json"}
        if key is not None:
            headers["Authorization"] = "Basic " + base64.b64encode(f"{key}:".encode()).decode()
        try:
            self.conn.request("POST", path, body=json.dumps(doc), headers=headers)
            resp = self.conn.getresponse()
            resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException):
            status = -1
        if status != 200 or resp.getheader("Connection", "").lower() == "close":
            self.conn.close()
        return status


# -- server lifecycle -----------------------------------------------------
class Instrumented:
    """One booted server with the benchmark's wrappers: the ledger's
    ``append`` is timed on every run; ``deliver`` only when traced."""

    def __init__(self, spark, work_dir: str, n_conns: int, tracer: Tracer):
        from kassette_server_spark.server import KassetteServer, default_deliver_factory

        self.work_dir = work_dir
        self.tracer = tracer
        self.appends: list[tuple[float, float, str]] = []
        base = default_deliver_factory(work_dir)
        factory = self._traced_factory(base) if tracer.enabled else base
        self.srv = KassetteServer(spark, work_dir, write_keys=frozenset({WRITE_KEY}),
                                  deliver_factory=factory)
        append = self.srv.ledger.append

        def timed_append(statuses):
            t0 = now()
            append(statuses)
            self.appends.append((t0, now(), threading.current_thread().name))

        self.srv.ledger.append = timed_append
        self.srv.start()
        self.conn_ids = [10 + i for i in range(n_conns)]
        cfg = Client(self.srv.gateway_address)
        assert cfg.post("/source", SOURCE) == 200
        assert cfg.post("/destination", DESTINATION) == 200
        for cid in self.conn_ids:
            assert cfg.post("/connection", {"id": cid, "source_id": 1, "destination_id": 2}) == 200
        self.queries = {cid: self.srv.supervisor.running[cid] for cid in self.conn_ids}
        self._stop_tick = threading.Event()
        self._ticker = threading.Thread(target=self._tick, daemon=True)
        self._ticker.start()

    def _traced_factory(self, base):
        def factory(conn):
            deliver = base(conn)
            out_dir = os.path.join(self.work_dir, "delivered", str(conn.id))

            def traced(df):
                before = set(os.listdir(out_dir)) if os.path.isdir(out_dir) else set()
                t0 = now()
                out = deliver(df)
                t1 = now()
                rows = 0
                for name in set(os.listdir(out_dir)) - before if os.path.isdir(out_dir) else ():
                    with open(os.path.join(out_dir, name)) as f:
                        rows += sum(1 for _ in f)
                self.tracer.add("deliver", t0, t1, connection=conn.id, rows=rows,
                                thread=threading.current_thread().name)
                return out

            return traced

        return factory

    def _tick(self):
        while not self._stop_tick.wait(TICK_S - now() % TICK_S):
            self.srv.tick()

    def drain(self) -> bool:
        """Flush the gateway and wait until every connection's query has
        processed everything landed so far."""
        self.srv.tick()
        ok = True
        for q in self.queries.values():
            t = threading.Thread(target=q.processAllAvailable, daemon=True)
            t.start()
            t.join(DRAIN_TIMEOUT_S)
            ok = ok and not t.is_alive()
        return ok

    def stop(self):
        self._stop_tick.set()
        self._ticker.join()
        self.srv.stop()


# -- load generation ------------------------------------------------------
def _client_loop(address: str, reqs: list[list]) -> list[list]:
    """The load generator: [body, key, due offset or None] per request;
    returns [due, sent, done, status] per request."""
    client = Client(address)
    t_start = now() + 0.05
    open_loop = bool(reqs) and reqs[0][2] is not None
    if open_loop:
        grid = (int(t_start // TRIGGER_S) + 1) * TRIGGER_S
        t_start = grid + START_PHASE_S
        threading.Event().wait(t_start - now())
    records = []
    for body, key, offset in reqs:
        if open_loop:
            due = t_start + offset
            wait = due - now()
            if wait > 0:
                threading.Event().wait(wait)
        sent = now()
        status = client.post("/v1/batch", body, key)
        done = now()
        records.append([due if open_loop else sent, sent, done, status])
    return records


def send(inst: Instrumented, reqs: list[dict], skip: int = 0) -> list[dict]:
    """Run the load generator in a child process (this file run as a
    script), so it does not share the server's interpreter lock. The
    first ``skip`` requests are sent but neither returned nor traced."""
    import subprocess
    import sys

    job = {"address": inst.srv.gateway_address,
           "reqs": [[{"batch": r["batch"]}, r["key"], r["due"]] for r in reqs]}
    out = subprocess.run([sys.executable, os.path.abspath(__file__)], input=json.dumps(job),
                         capture_output=True, text=True, check=True)
    records = []
    for i, (due, sent, done, status) in enumerate(json.loads(out.stdout)[skip:], skip):
        records.append({"i": i - skip, "due": due, "sent": sent, "done": done, "status": status})
        inst.tracer.add("ingest.request", sent, done, request_id=i - skip, status=status,
                        events=len(reqs[i]["batch"]))
    return records


# -- reading the outcome back ---------------------------------------------
def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _landing(landing_dir: str) -> tuple[dict, dict]:
    """mid → [(landing file, receivedAt)], file → (mtime, events)."""
    where: dict[str, list] = {}
    files: dict[str, tuple[float, int]] = {}
    for name in os.listdir(landing_dir):
        if name.startswith("."):
            continue
        path = os.path.join(landing_dir, name)
        events = 0
        with open(path) as f:
            for line in f:
                env = json.loads(json.loads(line)["payload"])
                rec = _ts(env["receivedAt"])
                for ev in env["batch"]:
                    where.setdefault(ev["messageId"], []).append((name, rec))
                    events += 1
        files[name] = (os.stat(path).st_mtime, events)
    return where, files


def _batches_of_files(ckpt: str) -> dict[str, int]:
    """landing file name → micro-batch id, from the file source's log."""
    log_dir = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir) if os.path.isdir(log_dir) else ():
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _ledger_rows(ledger_dir: str) -> list[tuple[str, int, str, float]]:
    """(job_id, connection_id, state, file mtime) for every ledger row."""
    import pyarrow.parquet as pq

    rows = []
    for name in os.listdir(ledger_dir):
        if not name.endswith(".parquet") or name.startswith("."):
            continue
        path = os.path.join(ledger_dir, name)
        mtime = os.stat(path).st_mtime
        t = pq.read_table(path, columns=["job_id", "connection_id", "state"]).to_pydict()
        rows.extend(zip(t["job_id"], t["connection_id"], t["state"], [mtime] * len(t["job_id"])))
    return rows


def _delivered(out_dir: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    for name in os.listdir(out_dir) if os.path.isdir(out_dir) else ():
        if name.startswith("."):
            continue
        with open(os.path.join(out_dir, name)) as f:
            for line in f:
                mid = json.loads(line)["message_id"]
                counts[mid] = counts.get(mid, 0) + 1
    return counts


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _commit_time(appends_sorted: list[float], mtime: float) -> float | None:
    """The first append return at or after the file's mtime."""
    import bisect

    k = bisect.bisect_left(appends_sorted, mtime)
    return appends_sorted[k] if k < len(appends_sorted) else None


# -- one run ----------------------------------------------------------------
def run(spark, workload: str, seed: int, seconds: int, tracer: Tracer, run_dir: str,
        t_process: float, t_session: float) -> dict:
    open_loop = workload == "ingest_steady"
    n_conns = 1 if open_loop else 2
    reqs = make_requests(workload, seed, seconds)

    # set-up: boot the whole server BOOTS times (fresh state each), keep the last
    boots = []
    inst = None
    for b in range(BOOTS):
        if inst is not None:
            inst.stop()
        t0 = now()
        inst = Instrumented(spark, fresh_dir(os.path.join(run_dir, f"server{b}")), n_conns, tracer)
        boots.append(now() - t0)
    t0 = now()
    send(inst, make_requests("ingest_steady", seed + 1, WARM_UP_S, prefix="warm", every=TRIGGER_S))
    assert inst.drain(), "warm-up events were not delivered"
    warm_s = now() - t0
    setup_s = (t_session - t_process) + sorted(boots)[len(boots) // 2] + warm_s
    tracer.spans.clear()
    inst.appends.clear()

    # the open loop starts with one untimed burst: the first micro-batch
    # after the warm-up's drain ran up to 1.5x as long as the next ones
    lead: list[dict] = []
    if open_loop:
        lead = make_requests(workload, seed + 2, 1, prefix="warmlead")
        reqs = [{**r, "due": r["due"] + BURST_EVERY_S} for r in reqs]
    steal0 = cpu_steal()
    records = send(inst, lead + reqs, skip=len(lead))
    t_send1 = now()
    drained = inst.drain()
    t_send0 = min(r["due"] for r in records)
    tracer.spans[:] = [s for s in tracer.spans if s["start"] >= t_send0]
    inst.appends[:] = [a for a in inst.appends if a[0] >= t_send0]
    steal = cpu_steal_frac(steal0, cpu_steal())
    progress = {cid: _progress(q) for cid, q in inst.queries.items()}
    run_ids = {cid: str(q.runId) for cid, q in inst.queries.items()}
    inst.stop()

    return analyse(inst, reqs, records, progress, run_ids, drained, tracer,
                   setup_s=setup_s, boots=boots, warm_s=warm_s, t_send0=t_send0, t_send1=t_send1,
                   steal=steal)


def analyse(inst, reqs, records, progress, run_ids, drained, tracer, *,
            setup_s, boots, warm_s, t_send0, t_send1, steal) -> dict:
    work = inst.work_dir
    where, files = _landing(os.path.join(work, "landing"))
    ledger = _ledger_rows(os.path.join(work, "ledger"))

    # the client's view: which messageIds were accepted, first due time
    due: dict[str, float] = {}
    bad_mids: set[str] = set()
    failed_requests = 0
    bad_not_401 = 0
    resent = 0
    for req, rec in zip(reqs, records):
        mids = [e["messageId"] for e in req["batch"]]
        if req["key"] == BAD_KEY:
            bad_mids.update(mids)
            bad_not_401 += rec["status"] != 401
            continue
        if rec["status"] != 200:
            failed_requests += 1
            continue
        if req["kind"] == "resend":
            resent += len(mids)
        for m in mids:
            due[m] = min(due.get(m, rec["due"]), rec["due"])
    warm = {m for m in where if m.startswith("warm")}

    # the commit of each succeeded (event, connection) row
    ends = sorted(a[1] for a in inst.appends)
    succeeded: dict[tuple[str, int], list[float]] = {}
    for job_id, cid, state, mtime in ledger:
        if state == "succeeded" and job_id not in warm:
            succeeded.setdefault((job_id, cid), []).append(_commit_time(ends, mtime))

    missing = duplicated = 0
    latencies: list[float] = []
    gaps = {"send_to_received": [], "received_to_landed": [], "landed_to_batch": [],
            "batch_to_commit": []}
    file_batch = {cid: _batches_of_files(os.path.join(work, "ckpt", f"conn-{cid}"))
                  for cid in inst.conn_ids}
    batch_start = {cid: {p["batchId"]: _ts(p["timestamp"]) for p in progress[cid]}
                   for cid in inst.conn_ids}
    delivered = {cid: _delivered(os.path.join(work, "delivered", str(cid))) for cid in inst.conn_ids}
    for cid in inst.conn_ids:
        for m, t_due in due.items():
            commits = succeeded.get((m, cid), [])
            if len(commits) != 1 or delivered[cid].get(m, 0) != 1:
                missing += not commits or delivered[cid].get(m, 0) == 0
                duplicated += len(commits) > 1 or delivered[cid].get(m, 0) > 1
                continue
            commit = commits[0]
            if commit is None:
                missing += 1
                continue
            latencies.append(commit - t_due)
            name, received = min(where[m], key=lambda x: x[1])
            landed = files[name][0]
            start = batch_start[cid].get(file_batch[cid].get(name))
            if start is None:  # progress entry aged out: fold into the last gap
                start = landed
            gaps["send_to_received"].append(received - t_due)
            gaps["received_to_landed"].append(landed - received)
            gaps["landed_to_batch"].append(start - landed)
            gaps["batch_to_commit"].append(commit - start)
    bad_delivered = sum(1 for cid in inst.conn_ids for m in bad_mids if delivered[cid].get(m))
    attempted = len(due) * len(inst.conn_ids) + sum(1 for r in reqs if r["key"] == BAD_KEY)
    failed = missing + duplicated + bad_delivered + bad_not_401 + failed_requests

    first_send = min(r["sent"] for r in records)
    last_commit = max(ends) if ends else now()
    n_ok = len(latencies)
    tq = tail_quantile(n_ok) if n_ok else 0.5
    result = {
        "attempted": attempted, "failed": failed,
        "notes": {
            "drained": drained, "missing": missing, "duplicated": duplicated,
            "bad_key_delivered": bad_delivered, "bad_key_not_401": bad_not_401,
            "failed_requests": failed_requests, "events_committed": n_ok,
            "tail_percentile": round(100 * tq, 2), "tail_samples_beyond": int(round(n_ok * (1 - tq))),
            "boots_s": [round(b, 3) for b in boots], "warm_up_s": round(warm_s, 3),
            "breakdown_mean_s": {k: (sum(v) / len(v) if v else 0.0) for k, v in gaps.items()},
            "breakdown_p50_s": {k: (quantile(v, 0.5) if v else 0.0) for k, v in gaps.items()},
            "latency_mean_s": sum(latencies) / n_ok if n_ok else 0.0,
            "batch_ms": {cid: [p["durationMs"].get("triggerExecution") for p in progress[cid]
                               if p.get("numInputRows", 0) > 0 and _ts(p["timestamp"]) >= t_send0]
                         for cid in inst.conn_ids},
            "cpu_steal_frac": steal, "host_probe_s": host_probe_s(),
        },
        "metrics": {
            "setup_s": (setup_s, "s"),
            "latency_p50_s": (quantile(latencies, 0.5) if n_ok else 0.0, "s"),
            "latency_tail_s": (quantile(latencies, tq) if n_ok else 0.0, "s"),
            "work_wall_s": (last_commit - first_send, "s"),
        },
        # the backlog's headline (ungated); on ingest_steady it is a
        # fixed count over work_wall_s, so it is not an end-to-end metric
        "extra": {"delivered_eps": (n_ok / (last_commit - first_send), "1/s")},
    }
    if tracer.enabled:
        result["layers"] = layers(inst, records, progress, run_ids, files, file_batch,
                                  where, ledger, resent, t_send0, t_send1, tracer)
        for k, mean_s in result["notes"]["breakdown_mean_s"].items():
            result["layers"][f"breakdown.{k}_ms"] = (mean_s * 1000, "ms")
        result["stream_batches"] = inst.stream_batches
    return result


def layers(inst, records, progress, run_ids, files, file_batch, where, ledger,
           resent, t_send0, t_send1, tracer) -> dict:
    """Per-layer numbers of one traced ingest run (micro-batches of the
    warm-up excluded); spans are added for the micro-batches and linked
    to their deliver/append children."""
    def p(vals, q):
        return quantile(vals, q) if vals else 0.0

    req_ms = [(r["done"] - r["sent"]) * 1000 for r in records]
    late_ms = [max(0.0, r["sent"] - r["due"]) * 1000 for r in records]
    files = {n: f for n, f in files.items() if f[0] >= t_send0}  # the warm-up's excluded
    flush_wait = [(files[name][0] - rec) * 1000 for occ in where.values() for name, rec in occ
                  if name in files]

    batches = []
    for cid, plist in progress.items():
        for pr in plist:
            start = _ts(pr["timestamp"])
            if pr.get("numInputRows", 0) <= 0 or start < t_send0:
                continue
            dur = pr.get("durationMs", {})
            end = start + dur.get("triggerExecution", 0) / 1000
            sid = len(tracer.spans)
            tracer.add("stream.batch", start, end, request_id=f"{cid}:{pr['batchId']}",
                       connection=cid, rows=pr["numInputRows"])
            batches.append({"cid": cid, "id": pr["batchId"], "start": start, "end": end,
                            "span": sid, "dur": dur, "rows": pr["numInputRows"]})

    def parent_of(t0, cid):
        for b in batches:
            if b["cid"] == cid and b["start"] <= t0 <= b["end"]:
                return b["span"], f"{cid}:{b['id']}"
        return None, None

    for s in tracer.by_name("deliver"):
        s["parent"], s["request_id"] = parent_of(s["start"], s["connection"])
    # deliver and append of one micro-batch run back to back on one thread
    delivers = sorted(tracer.by_name("deliver"), key=lambda s: s["end"])
    for t0, t1, tname in inst.appends:
        cid = None
        for s in delivers:
            if s["thread"] == tname and s["end"] <= t0:
                cid = s["connection"]
        parent, rid = parent_of(t0, cid)
        tracer.add("ledger.append", t0, t1, parent=parent, request_id=rid, connection=cid)

    def dur(key):
        return [b["dur"].get(key, 0) for b in batches]

    # landing files not yet picked up by any batch when sending stopped
    started_by_end = set()
    for cid in inst.conn_ids:
        starts = {b["id"]: b["start"] for b in batches if b["cid"] == cid}
        for name, bid in file_batch[cid].items():
            if starts.get(bid, float("inf")) <= t_send1:
                started_by_end.add((cid, name))
    landed_by_end = [n for n in files if files[n][0] <= t_send1]
    backlog = sum(1 for cid in inst.conn_ids for n in landed_by_end if (cid, n) not in started_by_end)

    trigger_wait = []
    for cid in inst.conn_ids:
        starts = {b["id"]: b["start"] for b in batches if b["cid"] == cid}
        for name, bid in file_batch[cid].items():
            if bid in starts and name in files:
                trigger_wait.append((starts[bid] - files[name][0]) * 1000)

    deliver = tracer.by_name("deliver")
    appends = tracer.by_name("ledger.append")
    ledger_dir = os.path.join(inst.work_dir, "ledger")
    counts: dict[tuple[str, int], int] = {}
    for job_id, cid, state, _ in ledger:
        if state == "succeeded":
            counts[(job_id, cid)] = counts.get((job_id, cid), 0) + 1
    inst.stream_batches = [f"{run_ids[b['cid']]}/batch{b['id']}" for b in batches]
    return {
        "gateway.requests": (len(records), "count"),
        "gateway.rejects": (sum(r["status"] == 401 for r in records), "count"),
        "gateway.request_ms_p50": (p(req_ms, 0.5), "ms"),
        "gateway.request_ms_p99": (p(req_ms, 0.99), "ms"),
        "gateway.events_per_file": (sum(f[1] for f in files.values()) / max(1, len(files)), "count"),
        "gateway.flush_wait_ms_p50": (p(flush_wait, 0.5), "ms"),
        "generator.late_ms_p99": (p(late_ms, 0.99), "ms"),
        "stream.batches": (len(batches), "count"),
        "stream.rows_per_batch_p50": (p([b["rows"] for b in batches], 0.5), "count"),
        "stream.trigger_wait_ms_p50": (p(trigger_wait, 0.5), "ms"),
        "stream.batch_ms_p50": (p(dur("triggerExecution"), 0.5), "ms"),
        "stream.batch_ms_p99": (p(dur("triggerExecution"), 0.99), "ms"),
        "stream.addBatch_ms_p50": (p(dur("addBatch"), 0.5), "ms"),
        "stream.getBatch_ms_p50": (p(dur("getBatch"), 0.5), "ms"),
        "stream.queryPlanning_ms_p50": (p(dur("queryPlanning"), 0.5), "ms"),
        "stream.walCommit_ms_p50": (p(dur("walCommit"), 0.5), "ms"),
        "stream.backlog_files_end": (backlog, "count"),
        "deliver.calls": (len(deliver), "count"),
        "deliver.ms_p50": (p([(s["end"] - s["start"]) * 1000 for s in deliver], 0.5), "ms"),
        "deliver.ms_p99": (p([(s["end"] - s["start"]) * 1000 for s in deliver], 0.99), "ms"),
        "deliver.rows": (sum(s.get("rows", 0) for s in deliver), "count"),
        "ledger.appends": (len(appends), "count"),
        "ledger.append_ms_p50": (p([(s["end"] - s["start"]) * 1000 for s in appends], 0.5), "ms"),
        "ledger.append_ms_p99": (p([(s["end"] - s["start"]) * 1000 for s in appends], 0.99), "ms"),
        "ledger.files_end": (sum(1 for n in os.listdir(ledger_dir) if n.endswith(".parquet")), "count"),
        "dedup.resent": (resent, "count"),
        "dedup.redelivered": (sum(1 for v in counts.values() if v > 1), "count"),
    }


if __name__ == "__main__":  # the load generator's child process
    import sys

    job = json.load(sys.stdin)
    json.dump(_client_loop(job["address"], job["reqs"]), sys.stdout)
