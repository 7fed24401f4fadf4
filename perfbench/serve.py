"""``serve`` workload: FDSN station/event/dataselect/availability and
``/rest/`` requests, param dict in, response bytes out, from a few
closed-loop clients against a Parquet index built through the waveform
ingest path.

Data load (once, after the first session start): channel epochs, the
event catalog and its documents are written with
``IndexStore.write_index``/``write_documents``, and the first slice of
the seeded waveform archive (MiniSEED v2 Steim-1/2, MiniSEED v3, SAC, GSE2) is
ingested with ``streaming.ingest.stream_waveform_dir`` +
``streaming.upsert.start_index_upsert_stream`` (availableNow).
Set-up (timed as ``setup_s``): a fresh SparkContext, the index store
and the serving views resolved and read once. Before the requests, the
delta lands (``fresh_s``: from landing until the index holds the
manifest's rows): new files, which go through the same checkpoint, and
files of the first slice rewritten in place with more samples. A file
stream source reads each path once, so the rewritten files are found
by the program's delta scan (``sources.ingest.delta_files``: path,
mtime and size against the listing indexed before) and re-indexed with
``parse_waveform_files`` + ``IndexStore.upsert_index_for_documents``.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import shutil
import threading
import time
from collections import Counter

import numpy as np
import pandas as pd

from perfbench import gen

SEED_META = {f: "str" for f in ("network", "station", "location", "channel")}
REST_META = {
    "quakeml_id": "str", "magnitude": "float", "origin_time": "UTCDateTime",
    "event_type": "str", "agency": "str", "depth_in_m": "float",
}
REST_PAYLOAD = ["quakeml_id", "magnitude", "origin_time", "event_type", "agency"]
WRITE_SPANS = tuple(f"sources.index_store.IndexStore.{m}"
                    for m in ("write_index", "write_documents", "upsert_index_for_documents"))
SERIALIZERS = {
    "station_text", "event_text", "event_xml", "quakeml_document", "quakeml_fragments",
    "geojson_document", "event_geojson", "dataselect_response", "cut_waveforms",
    "serialize_indices",
}


def _us(ts) -> int:
    return int(pd.Timestamp(ts).value // 1000)


def _iso_us(s: str) -> int:
    return _us(pd.Timestamp(s))


class Serve:
    def __init__(self, work: str, seed: int, size: dict, nproc: int) -> None:
        self.work, self.size = work, size
        self.clients = max(1, min(3, nproc))
        self.inv = gen.serve_inventory(seed, size)
        self.src = os.path.join(work, "archive")
        self.rewrites = os.path.join(work, "rewrites")
        self.manifest = gen.write_archive(self.src, self.rewrites, seed, self.inv["traces"])
        self.templates, index = gen.serve_templates(seed, size, self.inv)
        self.logs = [gen.request_log(index, size["pairs"], c, size["requests"])
                     for c in range(self.clients)]
        # client 0's warm-up cycle, shared out between the clients
        warm = gen.request_log(index, size["pairs"], 0, len(gen.ENDPOINT_CYCLE), True)
        self.warmup_logs = [warm[c::self.clients] for c in range(self.clients)]
        self.expected = [expected_keys(ep, p, self.inv, self.manifest) for ep, p in self.templates]
        self.archive_bytes = sum(os.path.getsize(os.path.join(self.src, f)) for f in os.listdir(self.src))
        self.manifest["channel_id"] = list(zip(self.manifest["network"], self.manifest["station"],
                                               self.manifest["location"], self.manifest["channel"]))
        self.facts: dict = {}
        self.tracer = None  # set for the traced run

    def describe(self) -> dict:
        mix = Counter(gen.ENDPOINT_CYCLE)
        files = self.manifest.drop_duplicates("file")
        chans = self.manifest.drop_duplicates("channel_id")
        return {
            "channel_epochs": len(self.inv["channels"]), "traces": len(self.manifest),
            "files": len(files), "events": len(self.inv["events"]),
            "archive_mb": round(self.archive_bytes / 2**20, 3),
            "format_mix": dict(Counter(files["format"])),
            "delta_channels": {"new": int(chans["slice"].sum()),
                               "rewritten": int(chans["rewritten"].sum()), "of": len(chans)},
            "clients": self.clients, "templates": len(self.templates),
            "endpoint_mix": dict(mix),
        }

    # ------------------------------------------------------------ set-up

    def _ingest(self, spark) -> None:
        from jane_spark.streaming.ingest import stream_waveform_dir
        from jane_spark.streaming.upsert import start_index_upsert_stream

        q = start_index_upsert_stream(stream_waveform_dir(spark, self.arrivals), self.store,
                                      "trace", self.ckpt, doc_id_col="path")
        q.awaitTermination()
        self.progress += [p for p in q.recentProgress if p["numInputRows"] > 0]

    def _listing(self, spark) -> list:
        """The arrivals directory as the delta scan sees it: path, mtime,
        size. Kept as rows, as set-up replaces the SparkContext."""
        from pyspark.sql import functions as F

        from jane_spark.sources.ingest import scan_files

        return scan_files(spark, self.arrivals).select(
            "path", F.col("modificationTime").alias("mtime"), F.col("length").alias("size"),
        ).collect()

    def _reindex_changed(self, spark) -> int:
        """Re-index the files the stream has read before and that changed
        since (the delta scan, A9); returns how many there were."""
        from jane_spark.sources.ingest import delta_files, parse_waveform_files

        schema = "path string, mtime timestamp, size long"
        indexed = spark.createDataFrame(self.indexed, schema)
        current = spark.createDataFrame(self._listing(spark), schema)
        changed = [r["path"] for r in delta_files(current, indexed)
                   .join(indexed.select("path"), "path", "left_semi").collect()]
        if changed:
            rows = parse_waveform_files(spark.read.format("binaryFile").load(changed))
            self.store.upsert_index_for_documents("trace", rows, doc_id_col="path")
        return len(changed)

    def prepare(self, spark) -> None:
        """The one-time data load: the channel, event and document tables
        are written, and the first slice of the archive is ingested."""
        from jane_spark.sources.index_store import IndexStore

        root = os.path.join(self.work, "index")
        self.arrivals, self.ckpt = os.path.join(root, "arrivals"), os.path.join(root, "ckpt")
        os.makedirs(self.arrivals)
        self.store = store = IndexStore(spark, os.path.join(root, "store"))
        self.progress: list = []
        ev = self.inv["events"]
        store.write_index("channel", spark.createDataFrame(self.inv["channels"], _channel_schema()),
                          partition_cols=["network"], sort_cols=["station", "location", "channel"])
        store.write_index("quakeml", spark.createDataFrame(ev, _event_schema()),
                          partition_cols=["agency"], sort_cols=["origin_time"])
        docs = pd.DataFrame({"doc_id": np.arange(ev["doc_id"].max() + 1, dtype=np.int64)})
        docs["doc_type"] = "quakeml"
        docs["name"] = [f"catalog_{i:04d}.xml" for i in docs["doc_id"]]
        docs["content_type"] = "text/xml"
        docs["data"] = [f"<q:quakeml>{i}</q:quakeml>".encode() for i in docs["doc_id"]]
        docs["created_at"] = pd.Timestamp("2025-01-01")
        docs["version"] = 1
        store.write_documents(spark.createDataFrame(docs, _doc_schema()))
        self.facts["store"] = os.path.join(root, "store")
        self.ingest_slice(spark, 0)

    def ingest_slice(self, spark, k: int) -> None:
        """Slice ``k`` of the archive lands in the arrivals directory (the
        delta also rewrites files in place) and goes through the
        streaming checkpoint, then the delta scan re-indexes the files
        that changed; the time from landing until as many trace rows as
        the manifest holds are readable is recorded (``fresh_s``)."""
        from perfbench.common import StageCounters

        files = self.manifest.drop_duplicates("file")
        landing = [os.path.join(self.src, f) for f in files.loc[files["slice"] == k, "file"]]
        if k == 1:
            landing += [os.path.join(self.rewrites, f) for f in files.loc[files["rewritten"], "file"]]
        for path in landing:
            shutil.copy(path, self.arrivals)
        counters = span0 = None
        if self.tracer is not None:
            counters = StageCounters(spark)
            counters.mark()
            span0 = len(self.tracer.spans)
        t0w, t0 = time.time(), time.perf_counter()
        self._ingest(spark)
        if k > 0:
            self.facts["reindexed_files"] = self._reindex_changed(spark)
        want = int((self.manifest["slice"] <= k).sum())
        deadline = time.perf_counter() + 60
        while self.store.index("trace").count() < want and time.perf_counter() < deadline:
            time.sleep(0.05)
        f = self.facts
        f.setdefault("fresh_s", []).append(time.perf_counter() - t0)
        f.setdefault("ingest_mb", []).append(sum(os.path.getsize(x) for x in landing) / 2**20)
        if k == 0:
            self.indexed = self._listing(spark)
        if self.tracer is not None:
            f.setdefault("ingest_exec_s", []).append(
                counters.read(t0w, time.time())["executor_run_s"])
            f.setdefault("write_s", []).append(self.tracer.total_s(WRITE_SPANS, span0))

    def setup(self, spark, rep: int) -> None:
        """Session set-up on a new SparkContext: the index store and the
        serving views are resolved, and the trace index is read once."""
        from jane_spark.sources.index_store import IndexStore

        self.store = IndexStore(spark, self.store.root)
        self._bind(spark, self.store)
        self.raw_traces.count()

    def ingest_delta(self) -> None:
        """The delta lands and is ingested; the serving views are then
        resolved again, since a DataFrame keeps the file listing it was
        created with."""
        self.ingest_slice(self.spark, 1)
        self._bind(self.spark, self.store)

    def _bind(self, spark, store) -> None:
        from pyspark.sql import functions as F

        self.spark = spark
        raw = store.index("trace")
        self.traces = raw.select(
            "network", "station", "location", "channel",
            F.expr("cast(timestamp_micros(start_us) as timestamp_ntz)").alias("starttime"),
            F.expr("cast(timestamp_micros(end_us) as timestamp_ntz)").alias("endtime"),
            "sampling_rate", F.col("npts").cast("long").alias("npts"),
            ((F.col("end_us") - F.col("start_us")) / 1e6).alias("duration"),
            "quality", "path", "pos",
        )
        self.channels = store.index("channel")
        self.events = store.index("quakeml")
        self.docs = store.documents("quakeml").select("doc_id", "name", "content_type")
        self.raw_traces = raw

    def check_index(self) -> tuple[int, int]:
        """(channels checked, channels wrong): a channel is right when the
        trace index holds each of its manifest traces exactly once, with
        SEED id, start, rate and npts, and nothing else. A rewritten file
        must show its new traces only. Rows of a channel the manifest
        lacks count as one more wrong channel."""
        rows = self.raw_traces.select("network", "station", "location", "channel", "path",
                                      "start_us", "sampling_rate", "npts").collect()
        got: dict = {}
        for r in rows:
            got.setdefault(tuple(r[:4]), Counter())[
                (os.path.basename(r[4]), r[5], float(r[6]), int(r[7]))] += 1
        want: dict = {}
        for m in self.manifest.itertuples():
            want.setdefault(m.channel_id, Counter())[
                (m.file, int(m.start_us), float(m.sampling_rate), int(m.npts))] += 1
        wrong = sum(got.get(c) != w for c, w in want.items())
        return len(want), wrong + int(bool(set(got) - set(want)))

    # ---------------------------------------------------------- requests

    def execute(self, ep: str, p: dict) -> bytes:
        """One request, parameter dict to response bytes."""
        from jane_spark.services import fdsnws, rest_api, waveform_cut

        if ep == "station":
            df = fdsnws.station_query(self.channels, p, traces=self.traces)
            lines = [r[0] for r in fdsnws.station_text(df, p["level"]).collect()]
            return "\n".join(lines).encode()
        if ep == "event":
            df = fdsnws.event_query(self.events, p)
            if p["format"] == "xml":
                return fdsnws.quakeml_document(df).encode()
            if p["format"] == "geojson":
                return fdsnws.geojson_document(df).encode()
            return "\n".join(r[0] for r in fdsnws.event_text(df).collect()).encode()
        if ep == "dataselect":
            return b"".join(waveform_cut.dataselect_response(self.traces, p, out_format="mseed"))
        if ep == "dataselect_bulk":
            plan = fdsnws.dataselect_bulk_body(self.spark, self.traces, p["body"])
            cut = waveform_cut.cut_waveforms(plan, reencode=True, out_format="mseed")
            rows = cut.select("network", "station", "location", "channel", "start_us", "payload") \
                .orderBy("network", "station", "location", "channel", "start_us").collect()
            return b"".join(bytes(r["payload"]) for r in rows)
        if ep == "availability":
            rows = fdsnws.availability_query(self.traces, p).select(
                "network", "station", "location", "channel", "quality", "sampling_rate",
                "span_start", "span_end").collect()
            return "\n".join("|".join(str(v) for v in r) for r in rows).encode()
        page = rest_api.index_search(self.events, REST_META, p, id_col="id")
        out = rest_api.serialize_indices(page, self.docs, None, REST_PAYLOAD,
                                         id_col="id", doc_type="quakeml")
        rows = out.orderBy("id").collect()
        return "\n".join("|".join(str(v) for v in r) for r in rows).encode()

    def check(self, i: int, body: bytes) -> bool:
        ep, p = self.templates[i]
        return response_keys(ep, p, body) == self.expected[i]


# ------------------------------------------------------------- oracle

def _seed_ok(row, p: dict) -> bool:
    from jane_spark.plans.predicates import match_row

    q = {k: p[k] for k in SEED_META if k in p and k != "location"}
    return match_row(row, q, SEED_META)


def _cut(t, s_us: int, e_us: int):
    """The trim rule of the cut phase: samples inside the closed window."""
    cs, ce = max(t["start_us"], s_us), min(t["end_us"], e_us)
    step = 1_000_000.0 / t["sampling_rate"]
    start = t["start_us"]
    i0 = 0 if cs <= start else math.ceil((cs - start) / step)
    i1 = t["npts"] - 1
    if ce < t["end_us"]:
        i1 = min(i1, int((ce - start) // step))
    if i1 < i0:
        return None
    return (t["network"], t["station"], t["location"], t["channel"],
            start + int(i0 * step), i1 - i0 + 1)


def _great_circle(lat1, lon1, lat2, lon2):
    r = np.radians
    dlat, dlon = r(lat2) - r(lat1), r(lon2) - r(lon1)
    h = np.sin(dlat / 2) ** 2 + np.cos(r(lat1)) * np.cos(r(lat2)) * np.sin(dlon / 2) ** 2
    return np.degrees(2 * np.arcsin(np.sqrt(h)))


def _like(value: str, pat: str) -> bool:
    import fnmatch

    if pat == "--":
        return value == ""
    return fnmatch.fnmatchcase(value, pat)


def expected_keys(ep: str, p: dict, inv: dict, manifest: pd.DataFrame):
    """The response content each template must produce, evaluated in
    pandas from the generator's own tables (independent of Spark)."""
    if ep == "station":
        ch = inv["channels"]
        keep = [_seed_ok(r, p) for r in ch.to_dict("records")]
        ch = ch[keep]
        if "minlatitude" in p:
            ch = ch[ch["latitude"].between(float(p["minlatitude"]), float(p["maxlatitude"]))]
        if "starttime" in p:
            s = pd.Timestamp(p["starttime"])
            ch = ch[ch["end_date"].isna() | (ch["end_date"] > s)]
        ch = ch.sort_values(["network", "station", "location", "channel", "start_date"])
        return [(r.network, r.station, r.location, r.channel,
                 r.start_date.strftime("%Y-%m-%dT%H:%M:%S")) for r in ch.itertuples()]
    if ep == "event":
        ev = inv["events"]
        ev = ev[ev["public"]
                & (ev["origin_time"] >= pd.Timestamp(p["starttime"]))
                & (ev["origin_time"] <= pd.Timestamp(p["endtime"]))
                & (ev["magnitude"] >= float(p["minmagnitude"]))]
        if "minlatitude" in p:
            ev = ev[ev["latitude"].between(float(p["minlatitude"]), float(p["maxlatitude"]))
                    & ev["longitude"].between(float(p["minlongitude"]), float(p["maxlongitude"]))]
        if "latitude" in p:
            d = _great_circle(ev["latitude"].values, ev["longitude"].values,
                              float(p["latitude"]), float(p["longitude"]))
            ev = ev[(d >= 0.0) & (d <= float(p["maxradius"]))]
        key = "origin_time" if p["orderby"] == "time" else "magnitude"
        ev = ev.sort_values([key, "quakeml_id"], ascending=[False, True])
        ids = list(ev["quakeml_id"][: int(p["limit"])])
        return ids if p["format"] == "text" else sorted(ids)
    if ep in ("dataselect", "dataselect_bulk", "availability"):
        tr = manifest.to_dict("records")
        if ep == "dataselect_bulk":
            wins = set()
            for line in p["body"].strip().splitlines():
                n, s, loc, c, a, b = line.split()
                a_us, b_us = _iso_us(a), _iso_us(b)
                for t in tr:
                    if (_like(t["network"], n) and _like(t["station"], s)
                            and _like(t["location"], loc) and _like(t["channel"], c)
                            and t["start_us"] < b_us and t["end_us"] > a_us):
                        # the service dedupes on trace identity + cut window
                        wins.add((t["file"], t["start_us"], max(t["start_us"], a_us),
                                  min(t["end_us"], b_us)))
            by = {(t["file"], t["start_us"]): t for t in tr}
            cuts = [_cut(by[(f, s)], a, b) for f, s, a, b in wins]
            return sorted(c for c in cuts if c is not None)
        s_us, e_us = _iso_us(p["starttime"]), _iso_us(p["endtime"])
        hits = [t for t in tr if _seed_ok(t, p) and t["end_us"] > s_us and t["start_us"] < e_us
                and (ep != "dataselect" or "quality" not in p or t["quality"] == p["quality"])]
        if ep == "dataselect":
            return sorted(c for c in (_cut(t, s_us, e_us) for t in hits) if c is not None)
        return sorted((t["network"], t["station"], t["location"], t["channel"], t["quality"],
                       max(t["start_us"], s_us), min(t["end_us"], e_us)) for t in hits)
    # rest
    from jane_spark.plans.predicates import match_row

    ev = inv["events"]
    search = {k: v for k, v in p.items() if k not in ("ordering", "limit", "offset")}
    rows = [r for r in ev.to_dict("records") if match_row(
        {**r, "origin_time": r["origin_time"].to_pydatetime()}, search, REST_META)]
    order = [x for x in p["ordering"].split(",") if x]
    rows.sort(key=lambda r: r["id"])
    for item in reversed(order):
        f = item.lstrip("-")
        rows.sort(key=lambda r: r[f], reverse=item.startswith("-"))
    off, lim = int(p["offset"]), int(p["limit"])
    return sorted(r["id"] for r in rows[off: off + lim])


def response_keys(ep: str, p: dict, body: bytes):
    """The same keys, read back from the response bytes."""
    if ep == "station":
        lines = [ln.split("|") for ln in body.decode().splitlines() if ln]
        return [(f[0], f[1], f[2], f[3], f[8]) for f in lines]
    if ep == "event":
        text = body.decode()
        if p["format"] == "text":
            return [ln.split("|")[0] for ln in text.splitlines() if ln]
        if p["format"] == "geojson":
            import json

            return sorted(f["id"] for f in json.loads(text)["features"])
        return sorted(re.findall(r'<event publicID="([^"#]+)"', text))
    if ep in ("dataselect", "dataselect_bulk"):
        from jane_spark.sources.seismic_formats import read_mseed

        return sorted((r["network"], r["station"], r["location"], r["channel"],
                       r["start_us"], r["npts"]) for r in read_mseed(body))
    if ep == "availability":
        out = []
        for ln in body.decode().splitlines():
            f = ln.split("|")
            # network|station|location|channel|quality|rate|span_start|span_end|...
            out.append((f[0], f[1], f[2], f[3], f[4], _iso_us(f[6]), _iso_us(f[7])))
        return sorted(out)
    return sorted(int(ln.split("|")[0]) for ln in body.decode().splitlines() if ln)


# -------------------------------------------------------------- schemas

def _channel_schema():
    from jane_spark.plans.schema import STATIONXML_META, meta_to_schema

    return meta_to_schema(STATIONXML_META, include_extra=False, include_geometry=False)


def _event_schema():
    from pyspark.sql import types as T

    from jane_spark.plans.schema import QUAKEML_META, meta_to_schema

    s = meta_to_schema(QUAKEML_META, include_extra=False, include_geometry=False)
    return T.StructType([T.StructField("id", T.LongType()), T.StructField("doc_id", T.LongType())]
                        + s.fields)


def _doc_schema():
    return ("doc_id long, doc_type string, name string, content_type string, data binary, "
            "created_at timestamp_ntz, version int")


# ---------------------------------------------------------- closed loop

# how long one cycle of every client takes on a 4-core box; the timed
# window sends round(--seconds / CYCLE_S) cycles, at least one
CYCLE_S = 7.5


def cycles_for(seconds: float) -> int:
    return max(1, round(seconds / CYCLE_S))


def run_clients(serve: Serve, logs: list, cycles: int, on_request=None) -> dict:
    """Each client walks its request log and sends the next request only
    after the previous reply; it makes ``cycles`` passes over the
    endpoint cycle (or over its log, if shorter). The count is fixed, not
    a deadline, so every run sends the same requests however fast the
    box is. The first response to
    each template is kept for the oracle check after the window; later
    responses must be byte-identical to it. Returns per-request records
    (client, template, latency s, raised, bytes, endpoint, sha1)."""
    records: list[tuple] = []
    first: dict[int, bytes] = {}
    lock = threading.Lock()

    cycle = min(len(gen.ENDPOINT_CYCLE), *(len(log) for log in logs))

    def client(c: int) -> None:
        log, k = logs[c], 0
        while k < cycles * cycle:
            i = log[k % len(log)]
            k += 1
            ep, p = serve.templates[i]
            t0 = time.perf_counter()
            try:
                if on_request is not None:
                    with on_request((c, k)):
                        body = serve.execute(ep, p)
                else:
                    body = serve.execute(ep, p)
                raised = False
            except Exception:  # a failed request counts as failed
                body, raised = b"", True
            dt = time.perf_counter() - t0
            digest = hashlib.sha1(body).hexdigest()
            with lock:
                if not raised:
                    first.setdefault(i, body)
                records.append((c, i, dt, raised, len(body), ep, digest))

    threads = [threading.Thread(target=client, args=(c,)) for c in range(len(logs))]
    t_start = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_start
    good = {i: hashlib.sha1(b).hexdigest() for i, b in first.items() if serve.check(i, b)}
    bad = [r for r in records if r[3] or good.get(r[1]) != r[6]]
    queries = [repr((ep, sorted((k, v) for k, v in p.items() if k != "format")))
               for ep, p in (serve.templates[r[1]] for r in records)]
    return {"records": records, "wall": wall, "failed": len(bad),
            "failed_templates": sorted({r[1] for r in bad}),
            # requests that repeat an earlier one exactly / repeat its query
            "repeat_share": 1 - len({r[1] for r in records}) / len(records),
            "query_repeat_share": 1 - len(set(queries)) / len(records)}
