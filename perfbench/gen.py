"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical inputs. The program under test only ever sees the
files and parameter dicts produced here, never the seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# sizes per workload; "tiny" is the self-check scale
SIZES = {
    "serve": {
        "full": {"networks": 3, "stations": 3, "events": 2000, "events_per_doc": 50,
                 "segments": 3, "pairs": 4, "requests": 400},
        "tiny": {"networks": 2, "stations": 2, "events": 200, "events_per_doc": 50,
                 "segments": 2, "pairs": 1, "requests": 40},
    },
    "curate": {
        "full": {"documents": 300, "embeddings": 300, "events": 3000},
        "tiny": {"documents": 60, "embeddings": 60, "events": 600},
    },
}

# ----------------------------------------------------------- curate tables

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EPOCH_2024_US = 1_704_067_200_000_000


def curate_tables(out_dir: str, seed: int, size: dict) -> dict:
    """Write ``documents``, ``embeddings`` and ``events`` Parquet files
    with the sf-testdata schemas (FIXTURES.md §A) and return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.default_rng([seed, 1])
    n_docs, n_emb, n_ev = size["documents"], size["embeddings"], size["events"]

    lengths = r.integers(10, 101, n_docs)
    texts = [" ".join(r.choice(WORDS, k)) for k in lengths]
    pq.write_table(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": r.choice(["en", "en", "en", "fr", "es", "zh", "de"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")

    centres = r.normal(size=(10, 64))
    labels = r.integers(0, 10, n_emb)
    vecs = centres[labels] + 0.6 * r.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }), f"{out_dir}/embeddings.parquet")

    ts = np.sort(r.integers(0, 29 * 86_400_000_000, n_ev)) + EPOCH_2024_US
    pq.write_table(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": r.integers(0, max(n_ev // 66, 1), n_ev).astype(np.int64),
        "event_type": r.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")
    return {"documents": n_docs, "embeddings": n_emb, "events": n_ev}


# --------------------------------------------------------- serve inventory

NETWORKS = ("BW", "GR", "IU", "II")
CHANNELS = ("BHZ", "BHN", "BHE")
# MiniSEED v2 is written Steim-1 and Steim-2; the others are one codec each
FORMATS = ("mseed_steim1", "mseed_steim2", "mseed3", "sac", "gse2")
FORMAT_WEIGHTS = (0.3, 0.2, 0.2, 0.15, 0.15)
# the archive lands in two slices, chosen by channel: the first before
# the data load, then a delta through the same checkpoint holding the
# files of 15 % of the channels as new files and, rewritten in place,
# the files of another 10 % (late samples appended to every segment)
DELTA_NEW_SHARE, DELTA_REWRITE_SHARE = 0.15, 0.10
WAVE_T0_US = 1_709_251_200_000_000  # 2024-03-01T00:00:00
AGENCIES = ("EMSC", "USGS", "GFZ", "INGV", "NIED")
EVENT_TYPES = ("earthquake", "earthquake", "earthquake", "quarry blast", "explosion")


def _ts(us) -> pd.Series:
    return pd.to_datetime(np.asarray(us, dtype=np.int64), unit="us")


def serve_inventory(seed: int, size: dict) -> dict:
    """Channel epochs, trace segments (the waveform manifest) and the
    event catalog, as pandas frames."""
    r = np.random.default_rng([seed, 2])
    chans, traces = [], []
    for net in NETWORKS[: size["networks"]]:
        loc = "" if net in ("BW", "GR") else "00"
        for k in range(size["stations"]):
            sta = f"{net[0]}{k:03d}"
            lat, lon = r.uniform(-60, 70), r.uniform(-180, 180)
            elev = float(round(r.uniform(0, 2500), 1))
            for cha in CHANNELS:
                # one closed epoch followed by an open one
                t0 = dt.datetime(2015, 1, 1) + dt.timedelta(days=int(r.integers(0, 1500)))
                t1 = t0 + dt.timedelta(days=int(r.integers(200, 1500)))
                for start, end in ((t0, t1), (t1, None)):
                    chans.append((net, sta, loc, cha, round(lat, 4), round(lon, 4),
                                  elev, 0.0, start, end, 1.0, "STS-2", 6.0e8, 1.0,
                                  "M/S", None, False))
                t = WAVE_T0_US + int(r.integers(0, 6 * 3600)) * 1_000_000
                fmt = str(r.choice(FORMATS, p=FORMAT_WEIGHTS))
                for s in range(size["segments"]):
                    npts = int(r.integers(120, 300))
                    quality = "D" if r.random() < 0.8 else "R"
                    traces.append((net, sta, loc, cha, t, 1.0, npts, quality, fmt, s))
                    t += (npts - 1) * 1_000_000 + int(r.integers(1800, 8 * 3600)) * 1_000_000
    channel_cols = ["network", "station", "location", "channel", "latitude", "longitude",
                    "elevation_in_m", "depth_in_m", "start_date", "end_date", "sample_rate",
                    "sensor_type", "total_sensitivity", "sensitivity_frequency",
                    "units_after_sensitivity", "response_stages", "restricted"]
    channels = pd.DataFrame(chans, columns=channel_cols)
    tr = pd.DataFrame(traces, columns=["network", "station", "location", "channel",
                                       "start_us", "sampling_rate", "npts", "quality",
                                       "format", "segment"])
    tr["end_us"] = tr["start_us"] + (tr["npts"] - 1) * 1_000_000

    n = size["events"]
    origin = (1_672_531_200_000_000  # 2023-01-01
              + np.sort(r.integers(0, 730 * 86_400, n)) * 1_000_000
              + r.integers(0, 1_000_000, n))
    mags = np.round(2.0 + r.exponential(0.8, n), 1)
    fm = r.random(n) < 0.1
    events = pd.DataFrame({
        "id": np.arange(n, dtype=np.int64),
        "doc_id": (np.arange(n) // size["events_per_doc"]).astype(np.int64),
        "quakeml_id": [f"smi:local/event/{i:06d}" for i in range(n)],
        "latitude": np.round(r.uniform(-70, 70, n), 3),
        "longitude": np.round(r.uniform(-180, 180, n), 3),
        "depth_in_m": np.round(r.exponential(20_000, n), 0),
        "origin_time": _ts(origin),
        "magnitude": mags,
        "magnitude_type": r.choice(["ML", "Mw", "mb"], n),
        "agency": r.choice(AGENCIES, n),
        "author": r.choice(["auto", "rev"], n),
        "public": r.random(n) < 0.9,
        "evaluation_mode": r.choice(["automatic", "manual"], n),
        "event_type": r.choice(EVENT_TYPES, n),
        "has_focal_mechanism": fm,
        "has_moment_tensor": fm & (r.random(n) < 0.5),
        "fm_strike": np.where(fm, np.round(r.uniform(0, 360, n), 0), np.nan),
        "fm_dip": np.where(fm, np.round(r.uniform(1, 90, n), 0), np.nan),
        "fm_rake": np.where(fm, np.round(r.uniform(-180, 180, n), 0), np.nan),
        "updated": _ts(origin + 86_400_000_000),
    })
    return {"channels": channels, "traces": tr, "events": events}


def _walk(r, npts: int) -> list[int]:
    # small steps keep Steim-1 at 4 differences per word, so one
    # 512-byte MiniSEED record holds the whole segment
    return np.cumsum(r.integers(-100, 101, npts)).astype(int).tolist()


def _encode(sf, row, samples: list[int]) -> bytes:
    sid = (row.network, row.station, row.location, row.channel)
    if row.format == "mseed_steim1":
        return sf.write_mseed(*sid, row.start_us, row.sampling_rate, samples,
                              row.quality, encoding=sf._ENC_STEIM1)
    if row.format == "mseed_steim2":
        return sf.write_mseed(*sid, row.start_us, row.sampling_rate, samples,
                              row.quality, encoding=sf._ENC_STEIM2)
    if row.format == "mseed3":
        return sf.write_mseed3(*sid, row.start_us, row.sampling_rate, samples,
                               encoding=sf._ENC_STEIM2)
    return sf.write_trace(row.format, *sid, row.start_us, row.sampling_rate, samples, row.quality)


def write_archive(src_dir: str, rewrite_dir: str, seed: int, traces: pd.DataFrame) -> pd.DataFrame:
    """Write one waveform file per channel holding all its segments (SAC
    holds one segment per file, so it gets one file per segment) and
    return the manifest: one row per trace with its file name, the
    ``slice`` (0 or 1) its file lands in, and whether the delta rewrites
    it (see DELTA_NEW_SHARE). A rewritten file is written to ``src_dir``
    with every segment cut short and to ``rewrite_dir`` in full; the
    manifest holds the full version, the one the index must end with."""
    from jane_spark.sources import seismic_formats as sf

    os.makedirs(src_dir, exist_ok=True)
    os.makedirs(rewrite_dir, exist_ok=True)
    r = np.random.default_rng([seed, 3])
    sids = list(dict.fromkeys(zip(traces["network"], traces["station"],
                                  traces["location"], traces["channel"])))
    order = [sids[i] for i in r.permutation(len(sids))]
    n_new = max(1, round(len(sids) * DELTA_NEW_SHARE))
    n_rw = max(1, round(len(sids) * DELTA_REWRITE_SHARE))
    new, rewritten = set(order[:n_new]), set(order[n_new: n_new + n_rw])
    names, slices, rw = [], [], []
    blobs: dict[str, list[bytes]] = {}
    full: dict[str, list[bytes]] = {}
    for row in traces.itertuples(index=False):
        samples = _walk(r, row.npts)
        sid = (row.network, row.station, row.location, row.channel)
        base = ".".join(sid)
        name = f"{base}.{row.segment}.{row.format}" if row.format == "sac" else f"{base}.{row.format}"
        names.append(name)
        slices.append(int(sid in new))
        rw.append(sid in rewritten)
        if sid in rewritten:
            cut = row.npts - int(r.integers(20, 61))
            blobs.setdefault(name, []).append(_encode(sf, row, samples[:cut]))
            full.setdefault(name, []).append(_encode(sf, row, samples))
        else:
            blobs.setdefault(name, []).append(_encode(sf, row, samples))
    for d, files in ((src_dir, blobs), (rewrite_dir, full)):
        for name, parts in files.items():
            with open(os.path.join(d, name), "wb") as fh:
                fh.write(b"".join(parts))
    manifest = traces.copy()
    manifest["file"] = names
    manifest["slice"] = slices
    manifest["rewritten"] = rw
    # SAC, MiniSEED v3 and GSE2 carry no quality code (the readers
    # report "D"); GSE2 has no location code either
    manifest.loc[manifest["format"].isin(["sac", "mseed3", "gse2"]), "quality"] = "D"
    manifest.loc[manifest["format"] == "gse2", "location"] = ""
    return manifest


# ------------------------------------------------------------ request log

ENDPOINTS = ("station", "event", "dataselect", "dataselect_bulk", "availability", "rest")
# each client cycles through this sequence, phase-shifted by two places
# per client, so clients do not send the same endpoint at once
ENDPOINT_CYCLE = ("event", "station", "dataselect", "rest", "dataselect_bulk", "availability")
EVENT_FORMATS = ("xml", "geojson", "text")


def _iso(us: int) -> str:
    return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")


def _template(ep: str, narrow: bool, pair: int, r, inv: dict) -> dict:
    ch, tr = inv["channels"], inv["traces"]
    stations = ch[["network", "station"]].drop_duplicates().values.tolist()
    nets = sorted(ch["network"].unique())
    net, sta = stations[int(r.integers(len(stations)))]
    # narrow windows sit on a segment of the chosen station; wide ones
    # span 12-36 h of the archive
    seg = tr[(tr["network"] == net) & (tr["station"] == sta)].iloc[int(r.integers(3))]
    if narrow:
        w0 = int(seg["start_us"]) + int(r.integers(0, 120)) * 1_000_000
        w1 = w0 + int(r.integers(1800, 4 * 3600)) * 1_000_000
    else:
        w0 = int(r.integers(int(tr["start_us"].min()), int(tr["end_us"].max())))
        w1 = w0 + int(r.integers(12, 36)) * 3600 * 1_000_000
    day0 = int(r.integers(0, 600)) * 86_400_000_000 + 1_672_531_200_000_000
    if ep == "station":
        p = {"level": "channel", "format": "text", "includeavailability": "true"}
        if narrow:
            p.update(network=net, station=sta, channel="BH?")
        else:
            p.update(network="*", channel="BHZ,BHN",
                     minlatitude="-50", maxlatitude="60", starttime="2018-01-01T00:00:00")
        return p
    if ep == "event":
        days = 45 if narrow else 365
        p = {"starttime": _iso(day0), "endtime": _iso(day0 + days * 86_400_000_000),
             "minmagnitude": "3.0" if narrow else "2.4",
             "orderby": ("time", "magnitude")[pair % 2],
             "limit": "25" if narrow else "100"}
        if narrow:
            p.update(latitude=f"{r.uniform(-50, 50):.2f}",
                     longitude=f"{r.uniform(-170, 170):.2f}", maxradius="40")
        else:
            p.update(minlatitude="-60", maxlatitude="60", minlongitude="-150", maxlongitude="150")
        return p
    if ep == "dataselect":
        p = {"starttime": _iso(w0), "endtime": _iso(w1)}
        if narrow:
            p.update(network=net, station=sta, channel="BH?")
        else:
            p.update(network=str(r.choice(nets)), channel="BH?", quality="D")
        return p
    if ep == "dataselect_bulk":
        lines = []
        for _ in range(3 if narrow else 2):
            n2, s2 = stations[int(r.integers(len(stations)))]
            a = int(r.integers(int(tr["start_us"].min()), int(tr["end_us"].max())))
            b = a + int(r.integers(1800, 12 * 3600)) * 1_000_000
            lines.append(f"{n2} {s2 if narrow else s2[0] + '*'} * "
                         f"{'BHZ' if narrow else 'BH?'} {_iso(a)} {_iso(b)}")
        return {"body": "\n".join(lines) + "\n"}
    if ep == "availability":
        p = {"network": net if narrow else "*", "channel": "BH?",
             "starttime": _iso(w0), "endtime": _iso(w1)}
        if narrow:
            p["station"] = sta
        return p
    p = {"min_magnitude": "3.2" if narrow else "2.5",
         "origin_time_after": _iso(day0),
         "event_type": "earthquake" if narrow else "quarry*,explosion,earth*",
         "ordering": ("-magnitude,origin_time", "origin_time")[pair % 2],
         "limit": "20" if narrow else "50",
         "offset": ("0", "10")[pair % 2]}
    if narrow:
        p["agency"] = ",".join(sorted(r.choice(AGENCIES, 2, replace=False)))
    return p


def serve_templates(seed: int, size: dict, inv: dict) -> tuple[list, dict]:
    """The pool of distinct requests, (endpoint, params), and its index
    {(endpoint, pair, narrow, format): position}: per endpoint, ``pairs``
    parameter sets drawn from the seed plus one more for the warm-up
    (pair number ``pairs``), each narrow (one station, short
    window, small radius) and wide (wildcards, long windows); event
    queries in each of EVENT_FORMATS (format None elsewhere). Bulk
    requests carry the POST body under ``"body"``."""
    r = np.random.default_rng([seed, 4])
    templates: list[tuple[str, dict]] = []
    index: dict[tuple, int] = {}
    for ep in ENDPOINTS:
        for pair in range(size["pairs"] + 1):
            for narrow in (True, False):
                p = _template(ep, narrow, pair, r, inv)
                for fmt in EVENT_FORMATS if ep == "event" else (None,):
                    index[(ep, pair, narrow, fmt)] = len(templates)
                    templates.append((ep, p if fmt is None else {**p, "format": fmt}))
    return templates, index


def request_log(index: dict, pairs: int, client: int, n: int, warmup: bool = False) -> list[int]:
    """Template positions one client sends, in order. In its k-th pass
    over ENDPOINT_CYCLE a client sends parameter set k mod ``pairs`` of
    each endpoint, narrow if the client number is even and wide if odd;
    event queries go out as EVENT_FORMATS[client mod 3]. So client 2
    sends client 0's requests again: with three clients, 5 of every 18
    requests repeat an earlier request byte for byte and 1 repeats an
    event query in another format. This repeat share is an assumption
    of the benchmark, not taken from a request log. The warm-up log
    sends the warm-up parameter set in every cycle instead."""
    cycle = len(ENDPOINT_CYCLE)
    out = []
    for j in range(n):
        k, pos = divmod(j, cycle)
        ep = ENDPOINT_CYCLE[(pos + 2 * client) % cycle]
        fmt = EVENT_FORMATS[client % len(EVENT_FORMATS)] if ep == "event" else None
        out.append(index[(ep, pairs if warmup else k % pairs, client % 2 == 0, fmt)])
    return out
