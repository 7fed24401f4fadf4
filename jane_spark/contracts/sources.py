"""§2.1 A — scans, sources, sinks contract queries.

Reference capabilities: waveform/document ingest scans, sha-dedup blob
store, FDSN text sink, incremental FS sync
[ref: src/jane/waveforms/process_waveforms.py — process_file;
src/jane/documents/models.py — Document;
src/jane/fdsnws/views/station_1.py — format=text branch, conf=H/M;
SURVEY.md §0 caveat: /root/reference was empty at survey time].
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jane_spark.contracts.registry import contract
from jane_spark.engine.catalog import Catalog
from jane_spark.functions.time import ntz_epoch_us


@contract(
    "q_a1_scan_count",
    oracle="SELECT count(*) AS n_rows FROM lineitem",
    survey_rows="A1",
    doc="full-scan count — the trace-record scan stand-in",
)
def q_a1(spark, sf_dir):
    return Catalog(spark, sf_dir).lineitem.agg(F.count(F.lit(1)).alias("n_rows"))


@contract(
    "q_a2_explode",
    oracle="""
        SELECT count(*) AS n_vals, round(sum(v), 2) AS sum_val
        FROM (SELECT unnest(embedding) AS v FROM embeddings)
    """,
    survey_rows="A2,J4",
    doc="one-file→many-rows expansion (inventory→channels) as array explode",
)
def q_a2(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    return emb.select(F.explode("embedding").alias("v")).agg(
        F.count(F.lit(1)).alias("n_vals"), F.round(F.sum("v"), 2).alias("sum_val")
    )


@contract(
    "q_a3_validation_gate",
    oracle="""
        SELECT CASE event_id % 5
                 WHEN 0 THEN 'malformed-xml'
                 WHEN 1 THEN 'wrong-root-element'
                 WHEN 2 THEN 'missing-eventParameters'
                 WHEN 3 THEN 'event-missing-publicID'
                 ELSE 'accepted' END AS outcome,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1
    """,
    survey_rows="A2,A3,J1",
    doc="upload-validation gate (sources/validation.py — jane's "
    "ValidatorPluginPoint analogue [ref: src/jane/documents/plugins.py, "
    "conf=H]): a corpus of synthetic QuakeML payloads whose validity "
    "class is fixed BY CONSTRUCTION (event_id mod 5: truncated / wrong "
    "root / no eventParameters / event without publicID / valid) runs "
    "through the real ElementTree validator stage; the oracle derives "
    "each document's expected outcome from the generative rule, so the "
    "classifier's decisions are hash-checked without DuckDB parsing "
    "XML. One Arrow-batched row-local pass + one small groupBy",
)
def q_a3_validation_gate(spark, sf_dir):
    from jane_spark.sources.validation import validate_documents

    ev = Catalog(spark, sf_dir).events
    m = F.col("event_id") % 5
    ns = '<q:quakeml xmlns:q="http://quakeml.org/xmlns/quakeml/1.2">'
    valid_doc = F.concat(
        F.lit(ns + '<eventParameters publicID="p"><event publicID="evt:'),
        F.col("event_id").cast("string"),
        F.lit('"><type>earthquake</type></event></eventParameters>'
              "</q:quakeml>"),
    )
    payload = (
        F.when(m == 0, F.substring(valid_doc, 1, 40))
        .when(m == 1, F.lit("<foo><eventParameters/></foo>"))
        .when(m == 2, F.lit(ns + "</q:quakeml>"))
        .when(
            m == 3,
            F.lit(ns + '<eventParameters publicID="p"><event>'
                  "<type>earthquake</type></event></eventParameters>"
                  "</q:quakeml>"),
        )
        .otherwise(valid_doc)
    )
    checked = validate_documents(
        ev.select("event_id", payload.alias("data")), "quakeml", "data"
    )
    return checked.groupBy(
        F.coalesce("reject_reason", F.lit("accepted")).alias("outcome")
    ).agg(F.count(F.lit(1)).alias("n"))


@contract(
    "q_a3_quakeml_parse",
    oracle="""
        SELECT 'evt:' || CAST(event_id AS VARCHAR) AS quakeml_id,
               ts AS origin_time,
               CAST(event_id % 180 - 90 AS DOUBLE) AS latitude,
               CAST(event_id % 360 - 180 AS DOUBLE) AS longitude,
               CAST(event_id % 700 * 1000 AS DOUBLE) AS depth_in_m,
               CAST(event_id % 90 AS DOUBLE) AS magnitude,
               'Mw' AS magnitude_type,
               event_type
        FROM events
    """,
    survey_rows="A3,A2,J4,J1",
    doc="REAL QuakeML ingest round-trip (sources/xml_ingest."
    "parse_quakeml_events — jane's quakeml plugin index() analogue): "
    "multi-event catalog documents are ASSEMBLED in-plan (3 events "
    "per document, values derived from the generative rule, content "
    "XML-escaped), then the ElementTree mapInPandas parser explodes "
    "each document back to one typed row per <event> — the "
    "one-file→many-rows expansion done for real. The oracle derives "
    "the expected row set from the same rule (parse/serialize must "
    "invert exactly, unescaping included); timestamps round-trip at "
    "µs precision. Zero shuffles except the document groupBy",
)
def q_a3_quakeml_parse(spark, sf_dir):
    from jane_spark.functions.xml import xml_attr, xml_element, xml_escape
    from jane_spark.sources.xml_ingest import parse_quakeml_events

    eid = F.col("event_id")
    iso = F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    val = lambda tag, c: xml_element(tag, xml_element("value", c))  # noqa: E731
    ev_xml = F.concat(
        F.lit("<event"),
        xml_attr("publicID", F.concat(F.lit("evt:"), eid.cast("string"))),
        F.lit(">"),
        xml_element(
            "origin",
            F.concat(
                val("time", iso),
                val("latitude", (eid % 180 - 90).cast("double").cast("string")),
                val("longitude", (eid % 360 - 180).cast("double").cast("string")),
                val("depth", (eid % 700 * 1000).cast("double").cast("string")),
            ),
        ),
        xml_element(
            "magnitude",
            F.concat(
                val("mag", (eid % 90).cast("double").cast("string")),
                xml_element("type", F.lit("Mw")),
            ),
        ),
        xml_element("type", xml_escape(F.col("event_type"))),
        F.lit("</event>"),
    )
    docs = (
        Catalog(spark, sf_dir).events
        .select((eid / 3).cast("long").alias("gid"), ev_xml.alias("x"))
        .groupBy("gid")
        .agg(
            F.concat(
                F.lit(
                    '<q:quakeml xmlns:q="http://quakeml.org/xmlns/'
                    'quakeml/1.2"><eventParameters publicID="cat">'
                ),
                F.array_join(F.collect_list("x"), ""),
                F.lit("</eventParameters></q:quakeml>"),
            ).alias("data")
        )
    )
    # AQE coalesces the small post-groupBy shuffle to a handful of
    # partitions, which would run the Python parse stage on a few
    # cores; an explicit numbered repartition (not coalesced by AQE)
    # spreads the per-document ElementTree work across the executor —
    # the standard balance move before any Python-bound mapInPandas
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return parse_quakeml_events(docs)


@contract(
    "q_a2_stationxml_parse",
    oracle="""
        SELECT r_name AS network,
               'N' || CAST(n_nationkey AS VARCHAR) AS station,
               CAST(n_nationkey * 3 - 36 AS DOUBLE) AS latitude,
               CAST(n_nationkey * 7 - 84 AS DOUBLE) AS longitude,
               CAST(n_nationkey * 10 AS DOUBLE) AS elevation_in_m,
               c.location, c.channel,
               c.start_date
        FROM nation JOIN region ON n_regionkey = r_regionkey
        CROSS JOIN (VALUES
            ('', 'EHZ', TIMESTAMP '2020-01-01 00:00:00'),
            ('00', 'EHN', TIMESTAMP '2021-06-15 12:30:00')
        ) AS c(location, channel, start_date)
    """,
    survey_rows="A2,A3,J4,J1",
    doc="REAL StationXML ingest round-trip (sources/xml_ingest."
    "parse_stationxml_channels — jane's stationxml plugin index() "
    "analogue): one FDSNStationXML inventory document per region, "
    "nesting one <Station> per member nation with two <Channel> "
    "epochs each, assembled in-plan from the generative rule; the "
    "ElementTree mapInPandas parser explodes each inventory back to "
    "one row per channel epoch. Oracle = the nation⋈region join the "
    "documents encode — serialization and parse must invert exactly",
)
def q_a2_stationxml_parse(spark, sf_dir):
    from jane_spark.functions.xml import xml_attr, xml_element
    from jane_spark.sources.xml_ingest import parse_stationxml_channels

    cat = Catalog(spark, sf_dir)
    nk = F.col("n_nationkey")
    chan = (
        '<Channel code="EHZ" locationCode="" '
        'startDate="2020-01-01T00:00:00"/>'
        '<Channel code="EHN" locationCode="00" '
        'startDate="2021-06-15T12:30:00"/>'
    )
    sta_xml = F.concat(
        F.lit("<Station"),
        xml_attr("code", F.concat(F.lit("N"), nk.cast("string"))),
        F.lit(">"),
        xml_element("Latitude", (nk * 3 - 36).cast("double").cast("string")),
        xml_element("Longitude", (nk * 7 - 84).cast("double").cast("string")),
        xml_element("Elevation", (nk * 10).cast("double").cast("string")),
        F.lit(chan),
        F.lit("</Station>"),
    )
    joined = cat.nation.join(
        F.broadcast(cat.region),
        cat.nation.n_regionkey == cat.region.r_regionkey,
    )
    docs = (
        joined.select(F.col("r_name"), sta_xml.alias("x"))
        .groupBy("r_name")
        .agg(
            F.concat(
                F.lit(
                    '<FDSNStationXML xmlns="http://www.fdsn.org/xml/'
                    'station/1" schemaVersion="1.1"><Network'
                ),
                F.lit(' code="'),
                F.col("r_name"),
                F.lit('">'),
                F.array_join(F.collect_list("x"), ""),
                F.lit("</Network></FDSNStationXML>"),
            ).alias("data")
        )
    )
    # NO extra repartition here (unlike the QuakeML contract): the
    # catalog is 5 region documents, so the parse stage is already
    # doc-bounded and a round-robin shuffle only adds overhead
    # (measured 0.15 s → 0.30 s)
    return parse_stationxml_channels(docs)


@contract(
    "q_a4_sha_dedup",
    oracle="""
        SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    survey_rows="A4,H6,K1",
    doc="content-hash dedup keeping first id (jane: sha1-unique uploads; "
    "contract uses md5 — DuckDB 1.0 has no sha1)",
)
def q_a4(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    return docs.groupBy(F.md5(F.col("text")).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


@contract(
    "q_a6_binary_len",
    oracle="""
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_hash
        FROM documents
    """,
    survey_rows="A6",
    doc="binary payload handling: byte length + content hash per blob",
)
def q_a6(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    return docs.select(
        "doc_id",
        F.length(F.encode(F.col("text"), "UTF-8")).cast("long").alias("n_bytes"),
        F.md5(F.col("text")).alias("content_hash"),
    )


@contract(
    "q_a6_beachball",
    oracle=None,  # SVG payload generation — rows-only check
    survey_rows="A6",
    doc="focal-mechanism attachment generation (services/beachball): "
    "cataloged strike/dip/rake (deterministic per event id in this "
    "fixture), double-couple math + equal-area projection rendered to "
    "SVG inside Arrow-batched mapInPandas; flagged events WITHOUT "
    "cataloged angles get a clearly-marked placeholder row, never an "
    "invented mechanism. Rolled up to stable corpus counts (every "
    "rendered double couple yields exactly 2 compressional fill paths; "
    "placeholders yield 0)",
)
def q_a6_beachball(spark, sf_dir):
    from jane_spark.services.beachball import PLACEHOLDER_CATEGORY, event_beachballs

    eid = F.col("event_id")
    # fixture catalog: every 3rd event carries a mechanism; of those,
    # every 2nd (event_id % 6 == 0) lacks derived nodal planes
    has_angles = eid % 6 == 3
    ev = Catalog(spark, sf_dir).events.select(
        F.concat(F.lit("evt:"), eid.cast("string")).alias("quakeml_id"),
        (eid % 3 == 0).alias("has_focal_mechanism"),
        F.when(has_angles, (eid * 37 % 360).cast("double")).alias("fm_strike"),
        F.when(has_angles, (eid % 89 + 1).cast("double")).alias("fm_dip"),
        F.when(has_angles, (eid * 13 % 360 - 180).cast("double")).alias("fm_rake"),
    )
    balls = event_beachballs(ev, size=120)
    return balls.select(
        F.count(F.lit(1)).alias("n_attachments"),
        F.count_distinct("quakeml_id").alias("n_events"),
        F.sum((F.col("category") == PLACEHOLDER_CATEGORY).cast("long")).alias(
            "n_placeholders"
        ),
        F.sum(F.length("payload")).alias("total_svg_bytes"),
        F.sum(
            (
                F.length("payload")
                - F.length(F.replace(F.col("payload").cast("string"),
                                     F.lit('fill="#333333"'), F.lit("")))
            )
            / F.length(F.lit('fill="#333333"'))
        ).cast("long").alias("total_fill_paths"),
    )


@contract(
    "q_a8_text_format",
    oracle="""
        SELECT concat_ws('|', n_name, r_name, CAST(n_nationkey AS VARCHAR)) AS line
        FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    survey_rows="A8",
    doc="FDSN text-format sink: pipe-separated rows",
)
def q_a8(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    joined = cat.nation.join(
        F.broadcast(cat.region), cat.nation.n_regionkey == cat.region.r_regionkey
    )
    return joined.select(
        F.concat_ws(
            "|", "n_name", "r_name", F.col("n_nationkey").cast("string")
        ).alias("line")
    )


_DUCK_ESC = (
    "replace(replace(replace(replace({col}, '&', '&amp;'), "
    "'<', '&lt;'), '>', '&gt;'), '\"', '&quot;')"
)


@contract(
    "q_a8_station_xml",
    oracle=f"""
        WITH e AS (
            SELECT {_DUCK_ESC.format(col="r_name")} AS r_esc, r_name,
                   {_DUCK_ESC.format(col="n_name")} AS n_esc, n_name,
                   CAST(n_nationkey AS VARCHAR) AS code
            FROM nation JOIN region ON n_regionkey = r_regionkey)
        SELECT r_name AS region,
               concat('<Region name="', r_esc, '">',
                      string_agg(concat('<Nation code="', code, '">',
                                        n_esc, '</Nation>'),
                                 '' ORDER BY n_name),
                      '</Region>') AS xml
        FROM e GROUP BY r_name, r_esc
    """,
    survey_rows="A8",
    doc="StationXML-style hierarchical serialization (functions/xml): "
    "escaped row-local child elements rolled up per parent in "
    "deterministic order — the Network>Station>Channel nesting shape "
    "of services.fdsnws.station_xml, oracle-checked via string_agg",
)
def q_a8_xml(spark, sf_dir):
    from jane_spark.functions.xml import xml_attr, xml_element, xml_escape, xml_rollup

    cat = Catalog(spark, sf_dir)
    j = cat.nation.join(
        F.broadcast(cat.region), cat.nation.n_regionkey == cat.region.r_regionkey
    )
    nation_el = xml_element(
        "Nation", xml_escape(F.col("n_name")), xml_attr("code", F.col("n_nationkey"))
    )
    rolled = xml_rollup(
        j.withColumn("__x", nation_el),
        ["r_name"],
        F.col("n_name"),
        F.col("__x"),
        out_name="__inner",
    )
    return rolled.select(
        F.col("r_name").alias("region"),
        F.concat(
            F.lit("<Region"),
            xml_attr("name", F.col("r_name")),
            F.lit(">"),
            F.col("__inner"),
            F.lit("</Region>"),
        ).alias("xml"),
    )


@contract(
    "q_a8_event_xml",
    oracle=f"""
        SELECT event_id,
               concat('<event publicID="evt:', CAST(event_id AS VARCHAR), '">',
                      '<time><value>',
                      strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'),
                      '</value></time>',
                      '<type>', {_DUCK_ESC.format(col="event_type")}, '</type>',
                      '<value>',
                      CAST(CAST(round(value, 3) AS DECIMAL(18,3)) AS VARCHAR),
                      '</value></event>') AS xml
        FROM events
    """,
    survey_rows="A8,H1",
    doc="QuakeML-style row-local event serialization (the <event> block "
    "shape of services.fdsnws.event_xml): ISO-µs timestamp, escaped "
    "text, fixed-point decimal — pure projection, no shuffle",
)
def q_a8_event_xml(spark, sf_dir):
    from jane_spark.functions.xml import xml_attr, xml_element, xml_escape

    ev = Catalog(spark, sf_dir).events
    iso = F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    block = F.concat(
        F.lit("<event"),
        xml_attr(
            "publicID", F.concat(F.lit("evt:"), F.col("event_id").cast("string"))
        ),
        F.lit(">"),
        xml_element("time", xml_element("value", iso)),
        xml_element("type", xml_escape(F.col("event_type"))),
        xml_element(
            "value", F.round(F.col("value"), 3).cast("decimal(18,3)").cast("string")
        ),
        F.lit("</event>"),
    )
    return ev.select("event_id", block.alias("xml"))


@contract(
    "q_a8_fm_xml",
    oracle=f"""
        WITH ev AS (
            SELECT 'evt:' || CAST(event_id AS VARCHAR) AS qid,
                   ts,
                   CAST(event_id % 180 - 90 AS DOUBLE) AS lat,
                   CAST(event_id % 360 - 180 AS DOUBLE) AS lon,
                   CAST(event_id % 700 * 1000 AS DOUBLE) AS dep,
                   CAST(event_id % 90 AS DOUBLE) AS mag,
                   {_DUCK_ESC.format(col="event_type")} AS etype,
                   CASE WHEN event_id % 3 = 0
                        THEN CAST(event_id * 37 % 360 AS DOUBLE) END AS fs,
                   CASE WHEN event_id % 3 = 0
                        THEN CAST(event_id % 89 + 1 AS DOUBLE) END AS fd,
                   CASE WHEN event_id % 3 = 0
                        THEN CAST(event_id * 13 % 360 - 180 AS DOUBLE) END AS fr
            FROM events)
        SELECT qid AS quakeml_id,
               concat('<event publicID="', qid, '">',
                      CASE WHEN fs IS NOT NULL THEN
                        concat('<focalMechanism publicID="', qid, '#fm">',
                               '<nodalPlanes><nodalPlane1>',
                               '<strike><value>', CAST(fs AS VARCHAR),
                               '</value></strike>',
                               '<dip><value>', CAST(fd AS VARCHAR),
                               '</value></dip>',
                               '<rake><value>', CAST(fr AS VARCHAR),
                               '</value></rake>',
                               '</nodalPlane1></nodalPlanes></focalMechanism>')
                      ELSE '' END,
                      '<preferredOriginID>', qid,
                      '#origin</preferredOriginID>',
                      '<preferredMagnitudeID>', qid,
                      '#mag</preferredMagnitudeID>',
                      CASE WHEN fs IS NOT NULL THEN
                        concat('<preferredFocalMechanismID>', qid,
                               '#fm</preferredFocalMechanismID>')
                      ELSE '' END,
                      '<origin publicID="', qid, '#origin">',
                      '<time><value>',
                      strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'),
                      '</value></time>',
                      '<latitude><value>', CAST(lat AS VARCHAR),
                      '</value></latitude>',
                      '<longitude><value>', CAST(lon AS VARCHAR),
                      '</value></longitude>',
                      '<depth><value>', CAST(dep AS VARCHAR),
                      '</value></depth>',
                      '<evaluationMode>manual</evaluationMode></origin>',
                      '<magnitude publicID="', qid, '#mag">',
                      '<mag><value>', CAST(mag AS VARCHAR),
                      '</value></mag><type>Mw</type>',
                      '<creationInfo><agencyID>EMSC</agencyID>',
                      '<author>auto</author></creationInfo></magnitude>',
                      '<type>', etype, '</type></event>') AS xml
        FROM ev
    """,
    survey_rows="A8",
    doc="QuakeML <event> serialization incl. the round-6 "
    "<focalMechanism> nodal-plane block (services/fdsnws.event_xml) on "
    "a synthetic quakeml index derived from events: every 3rd event "
    "carries cataloged angles and serializes them; the rest emit no "
    "mechanism element at all. Whole-number doubles keep the "
    "double→string rendering engine-portable; oracle is the same "
    "concat/CASE shape in DuckDB",
)
def q_a8_fm(spark, sf_dir):
    from jane_spark.services.fdsnws import event_xml

    eid = F.col("event_id")
    has_fm = eid % 3 == 0
    ev = Catalog(spark, sf_dir).events.select(
        F.concat(F.lit("evt:"), eid.cast("string")).alias("quakeml_id"),
        F.col("ts").alias("origin_time"),
        (eid % 180 - 90).cast("double").alias("latitude"),
        (eid % 360 - 180).cast("double").alias("longitude"),
        (eid % 700 * 1000).cast("double").alias("depth_in_m"),
        (eid % 90).cast("double").alias("magnitude"),
        F.lit("Mw").alias("magnitude_type"),
        F.lit("EMSC").alias("agency"),
        F.lit("auto").alias("author"),
        F.lit("manual").alias("evaluation_mode"),
        F.col("event_type"),
        F.when(has_fm, (eid * 37 % 360).cast("double")).alias("fm_strike"),
        F.when(has_fm, (eid % 89 + 1).cast("double")).alias("fm_dip"),
        F.when(has_fm, (eid * 13 % 360 - 180).cast("double")).alias("fm_rake"),
    )
    return event_xml(ev)


@contract(
    "q_a8_geojson",
    oracle="""
        SELECT 'evt:' || CAST(event_id AS VARCHAR) AS quakeml_id,
               CAST(to_json(struct_pack(
                   type := 'Feature',
                   id := 'evt:' || CAST(event_id AS VARCHAR),
                   geometry := struct_pack(
                       type := 'Point',
                       coordinates := [CAST(event_id % 360 - 180 AS DOUBLE),
                                       CAST(event_id % 180 - 90 AS DOUBLE),
                                       CAST(event_id % 700 AS DOUBLE)]),
                   properties := struct_pack(
                       "time" := strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'),
                       mag := round(value, 3),
                       magtype := 'Mw',
                       type := event_type,
                       agency := 'EMSC')
               )) AS VARCHAR) AS feature
        FROM events
    """,
    survey_rows="A8,H7",
    doc="GeoJSON event sink (services/fdsnws.event_geojson): one "
    "Feature per event via JVM-side to_json(struct) — Point geometry "
    "+ typed properties, byte-stable vs DuckDB's "
    "to_json(struct_pack) twin (both shortest-round-trip doubles)",
)
def q_a8_geojson(spark, sf_dir):
    from jane_spark.services.fdsnws import event_geojson

    eid = F.col("event_id")
    ev = Catalog(spark, sf_dir).events.select(
        F.concat(F.lit("evt:"), eid.cast("string")).alias("quakeml_id"),
        F.col("ts").alias("origin_time"),
        (eid % 180 - 90).cast("double").alias("latitude"),
        (eid % 360 - 180).cast("double").alias("longitude"),
        (eid % 700).cast("double").alias("depth_in_m"),
        F.round(F.col("value"), 3).alias("magnitude"),
        F.lit("Mw").alias("magnitude_type"),
        F.lit("EMSC").alias("agency"),
        F.col("event_type"),
    )
    return event_geojson(ev)


@contract(
    "q_a9_delta_anti",
    oracle="""
        SELECT c_custkey FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate < TIMESTAMP '1995-07-01')
    """,
    survey_rows="A9,C6",
    doc="incremental-sync delta: entities with no counterpart in the "
    "previous snapshot (left anti) — mtime-window scoped so the delta "
    "is non-empty at every sf",
)
def q_a9(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    early = cat.orders.filter(
        "o_orderdate < TIMESTAMP_NTZ '1995-07-01 00:00:00'"
    )
    return cat.customer.join(
        early, cat.customer.c_custkey == early.o_custkey, "left_anti"
    ).select("c_custkey")


@contract(
    "q_a1_seismic_formats",
    oracle=None,  # binary codec parsing — rows-only check; round-trip
    # equivalence is pinned in tests/test_seismic_formats.py
    survey_rows="A1,J1",
    doc="real waveform-format ingest without ObsPy: deterministic SAC, "
    "MiniSEED v2 (Steim-1), MiniSEED v3 (Steim-2 + CRC-32C), GSE2 "
    "(CM6) and JSW1 files are staged, binaryFile-scanned, format-"
    "sniffed per file and parsed to one uniform trace index "
    "(sources.seismic_formats.read_auto via ingest.parse_waveform_files)",
)
def q_a1_seismic(spark, sf_dir):
    import shutil
    import tempfile

    from jane_spark.sources.ingest import parse_waveform_files, scan_files
    from jane_spark.sources.seismic_formats import (
        write_gse2,
        write_mseed,
        write_mseed3,
        write_sac,
    )
    from jane_spark.sources.waveform_format import write_record

    t0 = 1_700_000_000 * 1_000_000
    stage = tempfile.mkdtemp(prefix="jane_seis_")
    try:
        series = [(i * i) % 997 - 498 for i in range(400)]  # deterministic
        with open(f"{stage}/a.sac", "wb") as f:
            f.write(write_sac("BW", "ALTM", "", "EHZ", t0, 100.0,
                              [float(v) for v in series[:100]]))
        with open(f"{stage}/b.mseed", "wb") as f:
            f.write(write_mseed("GR", "FUR", "", "BHZ", t0, 20.0, series,
                                quality="R", encoding=10))
        with open(f"{stage}/c.jsw", "wb") as f:
            f.write(write_record("IU", "ANMO", "00", "BHZ", t0, 40.0,
                                 series[:50]))
        with open(f"{stage}/d.gse", "wb") as f:
            f.write(write_gse2("NO", "KONO", "", "LHZ", t0, 1.0,
                               series[:60]))
        with open(f"{stage}/e.ms3", "wb") as f:
            f.write(write_mseed3("II", "AAK", "10", "BHZ", t0, 40.0,
                                 series))
        idx = parse_waveform_files(scan_files(spark, stage))
        out = (
            idx.groupBy("network", "station", "quality")
            .agg(
                F.count(F.lit(1)).alias("n_segments"),
                F.sum("npts").alias("total_npts"),
                F.min("start_us").alias("first_start_us"),
                F.max("end_us").alias("last_end_us"),
                F.round(F.sum("sampling_rate"), 3).alias("sum_rate"),
            )
            .orderBy("network")
        )
        # materialize before the staging dir vanishes
        return out.localCheckpoint()
    finally:
        shutil.rmtree(stage, ignore_errors=True)


_A7_LONGEST_ORACLE_TAIL = """
        f AS (SELECT * FROM traces
              WHERE network = 'BW' AND channel LIKE 'EH_'
                AND quality = 'D'
                AND endtime > TIMESTAMP '2024-01-05'
                AND starttime < TIMESTAMP '2024-01-25'
                AND duration >= 600000000),
        l AS (SELECT *, row_number() OVER (
                  PARTITION BY network, station, location, channel
                  ORDER BY duration DESC, starttime ASC) AS rn
              FROM f)
        SELECT network, station, location, channel, starttime, endtime,
               sampling_rate, npts, duration, quality, file_id, pos,
               greatest(starttime, TIMESTAMP '2024-01-05') AS cut_start,
               least(endtime, TIMESTAMP '2024-01-25') AS cut_end
        FROM l WHERE rn = 1
"""

_SESSION_TRACES_SQL = """
        g AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                            IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                            > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events),
        s AS (
            SELECT user_id, ts,
                   CAST(sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM g),
        segs AS (
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ts) AS s_start, max(ts) AS s_end
            FROM s GROUP BY user_id, session_id),
        traces AS (
            SELECT 'BW' AS network,
                   'S' || CAST(user_id AS VARCHAR) AS station,
                   '' AS location, 'EHZ' AS channel,
                   s_start AS starttime, s_end AS endtime,
                   CAST(100.0 AS DOUBLE) AS sampling_rate,
                   CAST(n_events AS BIGINT) AS npts,
                   CAST(epoch_us(s_end) - epoch_us(s_start) AS DOUBLE)
                       AS duration,
                   'D' AS quality, user_id AS file_id,
                   CAST(0 AS INTEGER) AS pos, session_id
            FROM segs)
"""


@contract(
    "q_a7_dataselect_cut",
    # oracle-converted r8 (the make-weak-checks-strong direction): the
    # cut RESOLUTION phase is pure relational algebra — only the byte
    # sink (q_a7_cut_bytes) stays rows-only
    oracle=f"""
        WITH {_SESSION_TRACES_SQL}
        SELECT network, station, location, channel, starttime, endtime,
               sampling_rate, npts, duration, quality, file_id, pos,
               greatest(starttime, TIMESTAMP '2024-01-10') AS cut_start,
               least(endtime, TIMESTAMP '2024-01-20') AS cut_end
        FROM traces
        WHERE network = 'BW' AND channel LIKE 'EH_'
          AND endtime > TIMESTAMP '2024-01-10'
          AND starttime < TIMESTAMP '2024-01-20'
    """,
    survey_rows="A7,B7,F4",
    doc="fdsnws-dataselect cut resolution: a synthetic trace index is "
    "derived from events sessions (one segment per user session), then "
    "services.fdsnws.dataselect_query resolves the segments a request "
    "window cuts, with per-segment trim bounds (cut_start/cut_end)",
)
def q_a7(spark, sf_dir):
    from jane_spark.operators.sessionize import session_summary
    from jane_spark.services.fdsnws import dataselect_query

    ev = Catalog(spark, sf_dir).clustered("events", "user_id")
    # segments: one per user session (30-min gap rule) — the same shape
    # as jane's ContinuousTrace rows (SEED id + span + rate + quality)
    segs = session_summary(ev, "user_id", "ts", "event_id", 30 * 60 * 1_000_000)
    traces = segs.select(
        F.lit("BW").alias("network"),
        F.concat(F.lit("S"), F.col("user_id").cast("string")).alias("station"),
        F.lit("").alias("location"),
        F.lit("EHZ").alias("channel"),
        F.col("session_start").alias("starttime"),
        F.col("session_end").alias("endtime"),
        F.lit(100.0).alias("sampling_rate"),
        (F.col("n_events").cast("long")).alias("npts"),
        (
            ntz_epoch_us(F.col("session_end"))
            - ntz_epoch_us(F.col("session_start"))
        ).cast("double").alias("duration"),
        F.lit("D").alias("quality"),
        F.col("user_id").alias("file_id"),
        F.lit(0).alias("pos"),
    )
    return dataselect_query(
        traces,
        {
            "network": "BW",
            "channel": "EH?",
            "starttime": "2024-01-10T00:00:00",
            "endtime": "2024-01-20T00:00:00",
        },
    )


@contract(
    "q_a7_longest_only",
    oracle=f"WITH {_SESSION_TRACES_SQL}, {_A7_LONGEST_ORACLE_TAIL}",
    survey_rows="A7,F4,B7",
    doc="fdsnws-dataselect minimumlength + longestonly in one request "
    "(oracle-backed r8 — the previously rows-only resolution phase is "
    "pure relational algebra): quality filter, 10-minute minimum "
    "duration, then the LONGEST qualifying segment per SEED id "
    "(duration desc, starttime asc argmax — D5), trim bounds last. "
    "The DuckDB twin is a row_number window over the same session-"
    "derived index",
)
def q_a7_longest(spark, sf_dir):
    from jane_spark.operators.sessionize import session_summary
    from jane_spark.services.fdsnws import dataselect_query

    ev = Catalog(spark, sf_dir).clustered("events", "user_id")
    segs = session_summary(ev, "user_id", "ts", "event_id", 30 * 60 * 1_000_000)
    traces = segs.select(
        F.lit("BW").alias("network"),
        F.concat(F.lit("S"), F.col("user_id").cast("string")).alias("station"),
        F.lit("").alias("location"),
        F.lit("EHZ").alias("channel"),
        F.col("session_start").alias("starttime"),
        F.col("session_end").alias("endtime"),
        F.lit(100.0).alias("sampling_rate"),
        (F.col("n_events").cast("long")).alias("npts"),
        (
            ntz_epoch_us(F.col("session_end"))
            - ntz_epoch_us(F.col("session_start"))
        ).cast("double").alias("duration"),
        F.lit("D").alias("quality"),
        F.col("user_id").alias("file_id"),
        F.lit(0).alias("pos"),
    )
    return dataselect_query(
        traces,
        {
            "network": "BW",
            "channel": "EH?",
            "quality": "D",
            "starttime": "2024-01-05T00:00:00",
            "endtime": "2024-01-25T00:00:00",
            "minimumlength": "600000000",
            "longestonly": "true",
        },
    )




@contract(
    "q_a7_bulk_select",
    oracle=f"""
        WITH {_SESSION_TRACES_SQL},
        req(net_like, sta_like, loc_like, cha_like, rs, re) AS (VALUES
            ('BW', 'S1%', '', 'EHZ',
             TIMESTAMP '2024-01-10', TIMESTAMP '2024-01-14'),
            ('BW', 'S%', '', 'EH_',
             TIMESTAMP '2024-01-12', TIMESTAMP '2024-01-13'),
            ('BW', 'S2', '', 'E_Z',
             TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25'))
        SELECT DISTINCT network, station, location, channel,
               starttime, endtime, sampling_rate, npts, duration,
               quality, file_id, pos,
               greatest(t.starttime, r.rs) AS cut_start,
               least(t.endtime, r.re) AS cut_end
        FROM traces t JOIN req r
          ON t.network LIKE r.net_like AND t.station LIKE r.sta_like
         AND t.location LIKE r.loc_like AND t.channel LIKE r.cha_like
         AND t.starttime < r.re AND t.endtime > r.rs
    """,
    survey_rows="A7,C4",
    doc="POST-bulk fdsnws-dataselect (services/fdsnws.dataselect_bulk): "
    "many request lines (SEED wildcards + window each) resolved in ONE "
    "band-bucketed interval join (C4, operators/interval_join) with "
    "residual LIKE wildcard matching, deduplicated on trace identity + "
    "cut window — hash-checked against the DuckDB per-line-predicate "
    "DISTINCT-union twin (the plan the bulk rewrite replaces), with no "
    "BroadcastNestedLoop in the plan",
)
def q_a7_bulk(spark, sf_dir):
    from jane_spark.operators.sessionize import session_summary
    from jane_spark.services.fdsnws import dataselect_bulk_body

    ev = Catalog(spark, sf_dir).clustered("events", "user_id")
    segs = session_summary(ev, "user_id", "ts", "event_id", 30 * 60 * 1_000_000)
    traces = segs.select(
        F.lit("BW").alias("network"),
        F.concat(F.lit("S"), F.col("user_id").cast("string")).alias("station"),
        F.lit("").alias("location"),
        F.lit("EHZ").alias("channel"),
        F.col("session_start").alias("starttime"),
        F.col("session_end").alias("endtime"),
        F.lit(100.0).alias("sampling_rate"),
        (F.col("n_events").cast("long")).alias("npts"),
        (
            ntz_epoch_us(F.col("session_end"))
            - ntz_epoch_us(F.col("session_start"))
        ).cast("double").alias("duration"),
        F.lit("D").alias("quality"),
        F.col("user_id").alias("file_id"),
        F.lit(0).alias("pos"),
    )
    body = (
        "quality=D\n"
        "BW S1* -- EHZ 2024-01-10T00:00:00 2024-01-14T00:00:00\n"
        "BW S* -- EH? 2024-01-12T00:00:00 2024-01-13T00:00:00\n"
        "BW S2 -- E?Z 2024-01-05T00:00:00 2024-01-25T00:00:00\n"
    )
    return dataselect_bulk_body(spark, traces, body)


@contract(
    "q_a8_station_bulk",
    oracle=f"""
        WITH {_SESSION_TRACES_SQL},
        channels AS (
            SELECT network, station, location, channel,
                   starttime AS start_date,
                   CASE WHEN session_id % 5 != 0 THEN endtime END AS end_date
            FROM traces),
        req(net_like, sta_like, loc_like, cha_like, rs, re) AS (VALUES
            ('BW', 'S1%', '', 'EHZ',
             TIMESTAMP '2024-01-10', TIMESTAMP '2024-01-14'),
            ('BW', 'S%', '', 'EH_',
             TIMESTAMP '2024-01-12', TIMESTAMP '2024-01-13'))
        SELECT DISTINCT network, station, location, channel,
               start_date, end_date
        FROM channels c JOIN req r
          ON c.network LIKE r.net_like AND c.station LIKE r.sta_like
         AND c.location LIKE r.loc_like AND c.channel LIKE r.cha_like
         AND c.start_date < r.re
         AND (c.end_date IS NULL OR c.end_date > r.rs)
    """,
    survey_rows="A8,C4",
    doc="POST-bulk fdsnws-station (services/fdsnws.station_bulk): many "
    "request lines resolved against a synthetic channel-epoch index "
    "(events sessions; every 5th epoch open-ended) in one coarse-bin "
    "interval join with the open epochs clamped to a finite horizon — "
    "hash-checked against the DuckDB per-line-predicate DISTINCT-union "
    "twin, open epochs included",
)
def q_a8_station_bulk(spark, sf_dir):
    from jane_spark.operators.sessionize import session_summary
    from jane_spark.services.fdsnws import station_bulk_body

    ev = Catalog(spark, sf_dir).clustered("events", "user_id")
    segs = session_summary(ev, "user_id", "ts", "event_id", 30 * 60 * 1_000_000)
    channels = segs.select(
        F.lit("BW").alias("network"),
        F.concat(F.lit("S"), F.col("user_id").cast("string")).alias("station"),
        F.lit("").alias("location"),
        F.lit("EHZ").alias("channel"),
        F.col("session_start").alias("start_date"),
        F.when(F.col("session_id") % 5 != 0, F.col("session_end")).alias(
            "end_date"
        ),
    )
    body = (
        "BW S1* -- EHZ 2024-01-10T00:00:00 2024-01-14T00:00:00\n"
        "BW S* -- EH? 2024-01-12T00:00:00 2024-01-13T00:00:00\n"
    )
    return station_bulk_body(spark, channels, body)


def _synthetic_quakeml_index(spark, sf_dir):
    """Deterministic quakeml-index frame derived from events (the
    q_a8_fm_xml fixture shape, plus the visibility flag event_query's
    includerestricted filter reads): whole-number doubles keep
    double→string rendering engine-portable."""
    eid = F.col("event_id")
    return Catalog(spark, sf_dir).events.select(
        F.concat(F.lit("evt:"), eid.cast("string")).alias("quakeml_id"),
        F.col("ts").alias("origin_time"),
        (eid % 180 - 90).cast("double").alias("latitude"),
        (eid % 360 - 180).cast("double").alias("longitude"),
        (eid % 700 * 1000).cast("double").alias("depth_in_m"),
        (eid % 90).cast("double").alias("magnitude"),
        F.lit("Mw").alias("magnitude_type"),
        F.lit("EMSC").alias("agency"),
        F.lit("auto").alias("author"),
        F.lit("manual").alias("evaluation_mode"),
        F.col("event_type"),
        F.lit(True).alias("public"),
        eid.alias("event_id"),
    )


_EVT_CORE_XML = """'<preferredOriginID>', qid, '#origin</preferredOriginID>',
                      '<preferredMagnitudeID>', qid,
                      '#mag</preferredMagnitudeID>',
                      '<origin publicID="', qid, '#origin">',
                      '<time><value>',
                      strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'),
                      '</value></time>',
                      '<latitude><value>', CAST(lat AS VARCHAR),
                      '</value></latitude>',
                      '<longitude><value>', CAST(lon AS VARCHAR),
                      '</value></longitude>',
                      '<depth><value>', CAST(dep AS VARCHAR),
                      '</value></depth>',
                      '<evaluationMode>manual</evaluationMode>'"""

_EVT_MAG_XML = """'</origin>',
                      '<magnitude publicID="', qid, '#mag">',
                      '<mag><value>', CAST(mag AS VARCHAR),
                      '</value></mag><type>Mw</type>',
                      '<creationInfo><agencyID>EMSC</agencyID>',
                      '<author>auto</author></creationInfo></magnitude>'"""

_EVT_INDEX_SQL = f"""
        ev AS (
            SELECT 'evt:' || CAST(event_id AS VARCHAR) AS qid,
                   event_id, ts,
                   CAST(event_id % 180 - 90 AS DOUBLE) AS lat,
                   CAST(event_id % 360 - 180 AS DOUBLE) AS lon,
                   CAST(event_id % 700 * 1000 AS DOUBLE) AS dep,
                   CAST(event_id % 90 AS DOUBLE) AS mag,
                   {_DUCK_ESC.format(col="event_type")} AS etype
            FROM events)"""


@contract(
    "q_a8_eventid",
    oracle=f"""
        WITH {_EVT_INDEX_SQL}
        SELECT qid AS quakeml_id,
               concat('<event publicID="', qid, '">',
                      {_EVT_CORE_XML},
                      {_EVT_MAG_XML},
                      '<type>', etype, '</type></event>') AS xml
        FROM ev WHERE qid = 'evt:42'
    """,
    survey_rows="A8",
    doc="fdsnws-event eventid param — the canonical single-event "
    "request [ref: src/jane/fdsnws/views/event_1.py — event_id "
    "resolution, conf=H]: the full service path (event_query eventid "
    "equality predicate + visibility filter, then "
    "event_xml_for_params with the spec's include*=false defaults) "
    "resolves exactly one QuakeML <event> document body; the equality "
    "predicate is pushdown-visible when quakeml_id is a physical index "
    "column (the synthetic fixture derives it, so this plan filters "
    "post-scan); serialization row-local",
)
def q_a8_eventid(spark, sf_dir):
    from jane_spark.services.fdsnws import event_query, event_xml_for_params

    params = {"eventid": "evt:42"}
    ev = _synthetic_quakeml_index(spark, sf_dir).drop("event_id")
    return event_xml_for_params(event_query(ev, params), params)


@contract(
    "q_a8_event_includeall",
    oracle=f"""
        WITH {_EVT_INDEX_SQL},
        ev2 AS (
            SELECT *,
                   CAST(event_id % 178 - 88 AS DOUBLE) AS lat2,
                   CAST(event_id % 358 - 178 AS DOUBLE) AS lon2,
                   CAST(event_id % 700 * 1000 + 500 AS DOUBLE) AS dep2,
                   CAST(event_id % 89 AS DOUBLE) AS mag2
            FROM ev)
        SELECT qid AS quakeml_id,
               concat('<event publicID="', qid, '">',
                      {_EVT_CORE_XML},
                      CASE WHEN event_id % 2 = 0 THEN
                        concat('</origin>',
                               '<origin publicID="', qid, '#origin2">',
                               '<time><value>',
                               strftime(ts + INTERVAL 1 SECOND,
                                        '%Y-%m-%dT%H:%M:%S.%f'),
                               '</value></time>',
                               '<latitude><value>', CAST(lat2 AS VARCHAR),
                               '</value></latitude>',
                               '<longitude><value>', CAST(lon2 AS VARCHAR),
                               '</value></longitude>',
                               '<depth><value>', CAST(dep2 AS VARCHAR),
                               '</value></depth>',
                               '<evaluationMode>automatic</evaluationMode>',
                               '</origin>',
                               '<magnitude publicID="', qid, '#mag">',
                               '<mag><value>', CAST(mag AS VARCHAR),
                               '</value></mag><type>Mw</type>',
                               '<creationInfo><agencyID>EMSC</agencyID>',
                               '<author>auto</author></creationInfo>',
                               '</magnitude>',
                               '<magnitude publicID="', qid, '#mag2">',
                               '<mag><value>', CAST(mag2 AS VARCHAR),
                               '</value></mag><type>mb</type>',
                               '<creationInfo><agencyID>GFZ</agencyID>',
                               '<author>bob</author></creationInfo>',
                               '</magnitude>')
                      ELSE concat({_EVT_MAG_XML}) END,
                      '<type>', etype, '</type></event>') AS xml
        FROM ev2
    """,
    survey_rows="A8",
    doc="fdsnws-event includeallorigins/includeallmagnitudes=true "
    "[ref: src/jane/fdsnws/views/event_1.py — include* flags, "
    "conf=H]: every 2nd event carries one relocated solution "
    "(extra_origins/extra_magnitudes arrays) which the r7 "
    "multi-origin serializer emits as #origin2/#mag2 children; odd "
    "events serialize the single-solution block byte-identically. "
    "event_xml_for_params maps the request params to serializer "
    "flags — with the spec's FALSE defaults the same frame emits no "
    "#origin2 anywhere (pytest-pinned contrast). Row-local "
    "transform/array_join HOFs, zero shuffle",
)
def q_a8_event_includeall(spark, sf_dir):
    from jane_spark.services.fdsnws import event_xml_for_params

    eid = F.col("event_id")
    has_extra = eid % 2 == 0
    ev = _synthetic_quakeml_index(spark, sf_dir).withColumns(
        {
            "extra_origins": F.when(
                has_extra,
                F.array(
                    F.struct(
                        (
                            F.col("origin_time") + F.expr("INTERVAL 1 SECOND")
                        ).alias("origin_time"),
                        (eid % 178 - 88).cast("double").alias("latitude"),
                        (eid % 358 - 178).cast("double").alias("longitude"),
                        (eid % 700 * 1000 + 500)
                        .cast("double")
                        .alias("depth_in_m"),
                        F.lit("automatic").alias("evaluation_mode"),
                    )
                ),
            ),
            "extra_magnitudes": F.when(
                has_extra,
                F.array(
                    F.struct(
                        (eid % 89).cast("double").alias("magnitude"),
                        F.lit("mb").alias("magnitude_type"),
                        F.lit("GFZ").alias("agency"),
                        F.lit("bob").alias("author"),
                    )
                ),
            ),
        }
    ).drop("event_id")
    params = {"includeallorigins": "true", "includeallmagnitudes": "true"}
    return event_xml_for_params(ev, params)


@contract(
    "q_a8_event_arrivals",
    oracle=f"""
        WITH {_EVT_INDEX_SQL},
        ev2 AS (
            SELECT *,
                   CAST(event_id % 360 AS DOUBLE) AS az1,
                   CAST(event_id % 180 AS DOUBLE) AS di1,
                   CAST(event_id % 10 - 5 AS DOUBLE) AS tr1,
                   CAST(event_id * 7 % 360 AS DOUBLE) AS az2,
                   CAST(event_id % 90 AS DOUBLE) AS di2,
                   CAST(event_id % 7 - 3 AS DOUBLE) AS tr2
            FROM ev)
        SELECT qid AS quakeml_id,
               concat('<event publicID="', qid, '">',
                      {_EVT_CORE_XML},
                      '<arrival publicID="', qid, '#arr1">',
                      '<pickID>', qid, '#pick1</pickID>',
                      '<phase>Pg</phase>',
                      '<azimuth>', CAST(az1 AS VARCHAR), '</azimuth>',
                      '<distance>', CAST(di1 AS VARCHAR), '</distance>',
                      '<timeResidual>', CAST(tr1 AS VARCHAR),
                      '</timeResidual></arrival>',
                      '<arrival publicID="', qid, '#arr2">',
                      '<pickID>', qid, '#pick2</pickID>',
                      '<phase>Sg</phase>',
                      '<azimuth>', CAST(az2 AS VARCHAR), '</azimuth>',
                      '<distance>', CAST(di2 AS VARCHAR), '</distance>',
                      '<timeResidual>', CAST(tr2 AS VARCHAR),
                      '</timeResidual></arrival>',
                      {_EVT_MAG_XML},
                      '<type>', etype, '</type></event>') AS xml
        FROM ev2
    """,
    survey_rows="A8",
    doc="fdsnws-event includearrivals=true [ref: "
    "src/jane/fdsnws/views/event_1.py — includearrivals, conf=H; "
    "QuakeML 1.2 nests <arrival> inside <origin>]: each event's "
    "arrivals array (pick reference, phase, azimuth/distance/"
    "timeResidual) serializes as #arr1/#arr2 children of the "
    "preferred origin. An index without pick data refuses loudly "
    "(ValueError — pytest-pinned) instead of silently emitting "
    "nothing. Row-local HOF serialization, zero shuffle",
)
def q_a8_event_arrivals(spark, sf_dir):
    from jane_spark.services.fdsnws import event_xml_for_params

    eid = F.col("event_id")
    qid = F.col("quakeml_id")

    def _arr(n, phase, az, di, tr):
        return F.struct(
            F.concat(qid, F.lit(f"#pick{n}")).alias("pick_id"),
            F.lit(phase).alias("phase"),
            az.cast("double").alias("azimuth"),
            di.cast("double").alias("distance"),
            tr.cast("double").alias("time_residual"),
        )

    ev = _synthetic_quakeml_index(spark, sf_dir).withColumn(
        "arrivals",
        F.array(
            _arr(1, "Pg", eid % 360, eid % 180, eid % 10 - 5),
            _arr(2, "Sg", eid * 7 % 360, eid % 90, eid % 7 - 3),
        ),
    ).drop("event_id")
    return event_xml_for_params(ev, {"includearrivals": "true"})


@contract(
    "q_a8_station_params",
    oracle=f"""
        WITH {_SESSION_TRACES_SQL},
        channels AS (
            SELECT network, station, location, channel,
                   starttime AS start_date,
                   CASE WHEN session_id % 5 != 0 THEN endtime END AS end_date,
                   starttime AS updated,
                   (file_id % 4 = 0) AS restricted
            FROM traces),
        ext AS (
            SELECT network, station, location, channel,
                   min(starttime) AS avail_earliest,
                   max(endtime) AS avail_latest,
                   CAST(count(*) AS BIGINT) AS avail_n_traces
            FROM traces
            GROUP BY network, station, location, channel)
        SELECT c.network, c.station, c.location, c.channel,
               c.start_date, c.end_date,
               e.avail_earliest, e.avail_latest, e.avail_n_traces
        FROM channels c
        LEFT JOIN ext e USING (network, station, location, channel)
        WHERE c.updated > TIMESTAMP '2024-01-15T00:00:00'
          AND NOT c.restricted
    """,
    survey_rows="A8,B10,D6,B12",
    doc="fdsnws-station updatedafter + includerestricted=false + "
    "includeavailability=true in one request [ref: "
    "src/jane/fdsnws/views/station_1.py — harvesting/visibility/"
    "availability params, conf=H]: epochs indexed after the cutoff, "
    "restricted epochs dropped regardless of ACL, and the "
    "continuous-trace extent (earliest/latest/count — the D6 "
    "machinery) left-joined per channel. One keyed aggregation + one "
    "broadcast-sized left join; every filter reaches the scan",
)
def q_a8_station_params(spark, sf_dir):
    from jane_spark.operators.sessionize import session_summary
    from jane_spark.services.fdsnws import station_query

    ev = Catalog(spark, sf_dir).clustered("events", "user_id")
    segs = session_summary(ev, "user_id", "ts", "event_id", 30 * 60 * 1_000_000)
    seed = [
        F.lit("BW").alias("network"),
        F.concat(F.lit("S"), F.col("user_id").cast("string")).alias("station"),
        F.lit("").alias("location"),
        F.lit("EHZ").alias("channel"),
    ]
    channels = segs.select(
        *seed,
        F.col("session_start").alias("start_date"),
        F.when(F.col("session_id") % 5 != 0, F.col("session_end")).alias(
            "end_date"
        ),
        F.col("session_start").alias("updated"),
        (F.col("user_id") % 4 == 0).alias("restricted"),
    )
    traces = segs.select(
        *seed,
        F.col("session_start").alias("starttime"),
        F.col("session_end").alias("endtime"),
    )
    params = {
        "updatedafter": "2024-01-15T00:00:00",
        "includerestricted": "false",
        "includeavailability": "true",
    }
    return station_query(channels, params, traces=traces).select(
        "network", "station", "location", "channel",
        "start_date", "end_date",
        "avail_earliest", "avail_latest", "avail_n_traces",
    )


@contract(
    "q_a8_availability_params",
    oracle="""
        WITH seg AS (
            SELECT 'S' || CAST(user_id % 50 AS VARCHAR) AS station,
                   ts AS st, ts + INTERVAL 10 MINUTE AS en,
                   event_id % 1000 + 1 AS npts
            FROM events WHERE user_id % 5 != 0),
        g AS (
            SELECT station, st, en, npts,
                   CASE WHEN max(epoch_us(en)) OVER (
                            PARTITION BY station ORDER BY st, en
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            IS NULL
                         OR epoch_us(st) - max(epoch_us(en)) OVER (
                            PARTITION BY station ORDER BY st, en
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            > 600000000
                        THEN 1 ELSE 0 END AS new_s
            FROM seg),
        s AS (
            SELECT station, st, en, npts,
                   CAST(sum(new_s) OVER (
                       PARTITION BY station ORDER BY st, en
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span
            FROM g)
        SELECT station, span_start, span_end, n_segments, total_samples
        FROM (
            SELECT station, min(st) AS span_start, max(en) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_segments,
                   CAST(sum(npts) AS BIGINT) AS total_samples,
                   max(max(st)) OVER (PARTITION BY station) AS lat
            FROM s GROUP BY station, span)
        ORDER BY lat DESC, station ASC, span_start ASC
        LIMIT 150
    """,
    survey_rows="A8,D6,B12",
    doc="fdsnws-availability request-parameter surface in one call "
    "[ref: FDSN availability spec §query parameters; "
    "src/jane/fdsnws — availability analogue, conf=M]: "
    "includerestricted=false drops restricted traces before any "
    "aggregation, orderby=latestupdate ranks channels by most recent "
    "index update (harvesting view; loud refusal without an 'updated' "
    "column), and limit cuts the fully tie-broken ordering so the "
    "surviving row SET is deterministic — which is exactly what the "
    "hash checks. Same single window shuffle as q_d6_availability",
)
def q_a8_availability_params(spark, sf_dir):
    from jane_spark.services.fdsnws import availability_query

    ev = Catalog(spark, sf_dir).clustered("events", "user_id")
    traces = ev.select(
        F.lit("BW").alias("network"),
        F.concat(F.lit("S"), (F.col("user_id") % 50).cast("string")).alias(
            "station"
        ),
        F.lit("").alias("location"),
        F.lit("EHZ").alias("channel"),
        F.col("ts").alias("starttime"),
        (F.col("ts") + F.make_dt_interval(mins=F.lit(10))).alias("endtime"),
        (F.col("event_id") % 1000 + 1).alias("npts"),
        F.col("ts").alias("updated"),
        (F.col("user_id") % 5 == 0).alias("restricted"),
    )
    params = {
        "mergegaps": "600",
        "includerestricted": "false",
        "orderby": "latestupdate",
        "limit": "150",
    }
    return availability_query(traces, params).select(
        "station", "span_start", "span_end", "n_segments", "total_samples"
    )


@contract(
    "q_a1_waveform_source",
    oracle=None,  # custom data source — rows-only check
    survey_rows="A1,J1",
    doc="Spark 4 Python Data Source for waveform files "
    "(sources/waveform_datasource.py): one InputPartition per file, "
    "per-trace index rows out — the distributed replacement for jane's "
    "single-host crawler; synthetic JSW1 fixtures stand in for MiniSEED "
    "(ObsPy unavailable; codec pluggable)",
)
def q_a1_ds(spark, sf_dir):
    import tempfile

    from jane_spark.sources.waveform_datasource import register
    from jane_spark.sources.waveform_format import write_record

    root = tempfile.mkdtemp(prefix="jane_wf_")
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    for fi in range(4):
        blobs = [
            write_record(
                "BW",
                f"ST{fi}",
                "",
                "EHZ",
                base_us + (fi * 8 + ti) * 3_600_000_000,
                100.0,
                [(fi * 8 + ti + s) % 512 for s in range(100)],
            )
            for ti in range(8)
        ]
        with open(f"{root}/wf_{fi}.jsw", "wb") as fh:
            fh.write(b"".join(blobs))
    register(spark)
    df = spark.read.format("waveform").load(root)
    return df.select(
        "network",
        "station",
        "channel",
        "start_us",
        "end_us",
        "sampling_rate",
        "npts",
        "quality",
    )


@contract(
    "q_a7_cut_bytes",
    oracle=None,  # byte-level sink — rows-only check
    survey_rows="A7,A1,J1",
    doc="the full dataselect lifecycle on real bytes (SURVEY §3.2): "
    "waveform files → data-source index → window query resolves "
    "(file,pos) regions → cut phase trims samples at stored offsets "
    "and re-encodes (services/waveform_cut.py)",
)
def q_a7_bytes(spark, sf_dir):
    import tempfile

    from jane_spark.services.fdsnws import dataselect_query
    from jane_spark.services.waveform_cut import cut_waveforms
    from jane_spark.sources.waveform_datasource import register
    from jane_spark.sources.waveform_format import write_record

    root = tempfile.mkdtemp(prefix="jane_cut_")
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    for fi in range(3):
        blobs = [
            write_record(
                "BW", f"ST{fi}", "", "EHZ",
                base_us + (fi * 6 + ti) * 3_600_000_000, 100.0,
                [(fi + ti + s) % 256 for s in range(200)],
            )
            for ti in range(6)
        ]
        with open(f"{root}/wf_{fi}.jsw", "wb") as fh:
            fh.write(b"".join(blobs))
    register(spark)
    scanned = spark.read.format("waveform").load(root)
    index = scanned.select(
        "path", "network", "station", "location", "channel",
        F.timestamp_micros(F.col("start_us")).cast("timestamp_ntz").alias("starttime"),
        F.timestamp_micros(F.col("end_us")).cast("timestamp_ntz").alias("endtime"),
        "sampling_rate", "npts", "quality", "pos",
        (F.col("end_us") - F.col("start_us")).cast("double").alias("duration"),
    )
    plan = dataselect_query(
        index,
        {
            "network": "BW",
            "channel": "EH?",
            "starttime": "2024-01-01T01:00:00.500000",
            "endtime": "2024-01-01T12:00:00",
        },
    )
    return cut_waveforms(plan, reencode=True).select(
        "network", "station", "channel", "start_us", "npts", "sampling_rate"
    )


@contract(
    "q_a12_schema_merge",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_with_chars,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)
                    AS BIGINT) AS sum_chars
        FROM documents GROUP BY lang
    """,
    survey_rows="A12,A4,A9",
    doc="SCHEMA-EVOLUTION parquet union (the mergeSchema read): an old "
    "generation written WITHOUT n_chars and a new generation WITH it "
    "read as ONE table — old rows surface NULL for the added column, "
    "nothing is rewritten (the additive-column migration every "
    "long-lived 100 TB corpus store performs; Spark resolves the "
    "union by FOOTER schema merge, not by rewriting history). Real "
    "files both generations; the oracle derives the per-generation "
    "split arithmetically (doc_id parity), so a row landing in the "
    "wrong generation or a mis-merged column hash-mismatches",
)
def q_a12(spark, sf_dir):
    import shutil
    import tempfile

    docs = Catalog(spark, sf_dir).documents
    root = tempfile.mkdtemp(prefix="jane_a12_")
    try:
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "lang"
        ).write.parquet(f"{root}/gen=1")
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", "n_chars"
        ).write.parquet(f"{root}/gen=2")
        merged = spark.read.option("mergeSchema", "true").parquet(root)
        out = merged.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("n_chars").isNotNull().cast("bigint")).alias(
                "n_with_chars"
            ),
            F.coalesce(F.sum("n_chars"), F.lit(0))
            .cast("bigint")
            .alias("sum_chars"),
        )
        return out.localCheckpoint(eager=True)  # materialize pre-rmtree
    finally:
        shutil.rmtree(root, ignore_errors=True)


@contract(
    "q_a11_jsonl",
    oracle="""
        WITH g AS (SELECT lang, n_chars, doc_id % 7 <> 0 AS ok
                   FROM documents)
        SELECT CASE WHEN ok THEN lang ELSE '_corrupt' END AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN ok THEN n_chars ELSE 0 END) AS BIGINT)
                   AS sum_chars
        FROM g GROUP BY 1
    """,
    survey_rows="A11,A4,I6",
    doc="JSONL source with corrupt-record QUARANTINE "
    "(sources/jsonl.read_jsonl_quarantine): documents serialize to "
    "one-object-per-line JSON files, every 7th line is truncated "
    "mid-object, and the PERMISSIVE + columnNameOfCorruptRecord read "
    "recovers typed rows while quarantining the broken raw lines — "
    "never silently dropping, never failing the batch (the 100 TB "
    "posture for hand-rolled upstream containers). Goes through REAL "
    "files and spark.read.json; the oracle derives the good/corrupt "
    "partition arithmetically (doc_id % 7), so a single mis-parsed "
    "or mis-quarantined line hash-mismatches",
)
def q_a11(spark, sf_dir):
    import shutil
    import tempfile

    from jane_spark.sources.jsonl import read_jsonl_quarantine

    docs = Catalog(spark, sf_dir).documents
    line = F.concat(
        F.lit('{"doc_id":'), F.col("doc_id").cast("string"),
        F.lit(',"lang":"'), F.col("lang"),
        F.lit('","n_chars":'), F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    broken = F.when(
        F.col("doc_id") % 7 == 0,
        F.substring(line, 1, F.length(line).cast("int") - 5),
    ).otherwise(line)
    root = tempfile.mkdtemp(prefix="jane_jsonl_")
    try:
        docs.select(broken.alias("value")).write.mode("overwrite").text(root)
        good, quarantine = read_jsonl_quarantine(
            spark, root, "doc_id long, lang string, n_chars long"
        )
        g = good.groupBy(F.col("lang").alias("bucket")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
        )
        q = quarantine.agg(
            F.count(F.lit(1)).alias("n"),
            F.lit(0).cast("bigint").alias("sum_chars"),
        ).select(F.lit("_corrupt").alias("bucket"), "n", "sum_chars")
        out = g.unionByName(q)
        out = out.localCheckpoint(eager=True)  # materialize before rmtree
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


@contract(
    "q_a10_warc",
    oracle="""
        SELECT doc_id,
               concat('https://corpus.example/doc/',
                      CAST(doc_id AS VARCHAR)) AS uri,
               'response' AS wtype,
               200 AS status,
               octet_length(encode(text)) AS body_bytes,
               md5(text) AS body_md5
        FROM documents
    """,
    survey_rows="A10,J1,T17",
    doc="WARC web-archive source (sources/warc.py — ISO 28500, the "
    "CommonCrawl container): each document is wrapped as an HTTP "
    "response record, encoded through the writer twin (per-record "
    "gzip members, the standard .warc.gz layout), then the DISTRIBUTED "
    "parse path recovers records and splits the HTTP payload; the "
    "oracle constructs uri/status/byte-count/md5 arithmetically, so "
    "framing or payload-split errors of even one byte hash-mismatch. "
    "Round-trips through real archive BYTES — the same parse_warc the "
    "binaryFile source runs per archive task",
)
def q_a10(spark, sf_dir):
    import hashlib

    import pandas as pd

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")

    def roundtrip(batches):
        from jane_spark.sources.warc import (
            encode_warc,
            http_payload,
            parse_warc,
        )

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                body = text.encode("utf-8")
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
                    + body
                )
                blob = encode_warc(
                    [
                        {
                            "warc_type": "response",
                            "target_uri": (
                                f"https://corpus.example/doc/{doc_id}"
                            ),
                            "content_type": (
                                "application/http;msgtype=response"
                            ),
                            "content": http,
                        }
                    ],
                    gzip_members=True,
                )
                (rec,) = parse_warc(blob)
                status, payload = http_payload(rec["content"])
                rows.append(
                    {
                        "doc_id": doc_id,
                        "uri": rec["target_uri"],
                        "wtype": rec["warc_type"],
                        "status": status,
                        "body_bytes": len(payload),
                        "body_md5": hashlib.md5(payload).hexdigest(),
                    }
                )
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        roundtrip,
        "doc_id long, uri string, wtype string, status int, "
        "body_bytes long, body_md5 string",
    )


@contract(
    "q_a15_xml",
    oracle="""
        WITH g AS (SELECT lang, n_chars, doc_id % 7 <> 0 AS ok
                   FROM documents)
        SELECT CASE WHEN ok THEN lang ELSE '_corrupt' END AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN ok THEN n_chars ELSE 0 END) AS BIGINT)
                   AS sum_chars
        FROM g GROUP BY 1
    """,
    survey_rows="A15,A14,A11,A4",
    doc="XML source with corrupt-record QUARANTINE — the q_a11/q_a14 "
    "recipe through the THIRD container (sources/jsonl."
    "read_xml_quarantine): documents serialize to one <doc> element "
    "per line, every 7th record structurally broken (missing close "
    "tag), and per-record from_xml PERMISSIVE parsing recovers typed "
    "rows while quarantining the malformed raw lines. NOTE the "
    "whole-file XML reader quarantines at FILE granularity (one bad "
    "record poisons the file's remainder — measured r12), so the "
    "line-shaped export uses from_xml per record; same never-drop/"
    "never-fail contract as JSON and CSV. REAL files + real XML "
    "parse; the oracle derives the partition arithmetically",
)
def q_a15(spark, sf_dir):
    import shutil
    import tempfile

    from jane_spark.sources.jsonl import read_xml_quarantine

    docs = Catalog(spark, sf_dir).documents
    line = F.concat(
        F.lit("<doc><doc_id>"), F.col("doc_id").cast("string"),
        F.lit("</doc_id><lang>"), F.col("lang"),
        F.lit("</lang><n_chars>"), F.col("n_chars").cast("string"),
        F.lit("</n_chars></doc>"),
    )
    broken = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.lit("<doc><doc_id>"), F.col("doc_id").cast("string"),
            F.lit("</doc_id><lang>"), F.col("lang"),
            F.lit("</lang><n_chars>"), F.col("n_chars").cast("string"),
            F.lit("</n_chars>"),  # missing </doc> -> structural break
        ),
    ).otherwise(line)
    root = tempfile.mkdtemp(prefix="jane_xml_")
    try:
        docs.select(broken.alias("value")).write.mode("overwrite").text(root)
        good, quarantine = read_xml_quarantine(
            spark, root, "doc_id long, lang string, n_chars long"
        )
        g = good.groupBy(F.col("lang").alias("bucket")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
        )
        q = quarantine.agg(
            F.count(F.lit(1)).alias("n"),
            F.lit(0).cast("bigint").alias("sum_chars"),
        ).select(F.lit("_corrupt").alias("bucket"), "n", "sum_chars")
        out = g.unionByName(q).localCheckpoint(eager=True)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


@contract(
    "q_a16_orc",
    oracle="""
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM documents WHERE doc_id % 3 = 0 GROUP BY lang
    """,
    survey_rows="A16,A12,P7",
    doc="ORC container roundtrip — the OTHER columnar format a lake "
    "actually serves (Hive/Trino default): a documents subset writes "
    "to REAL ORC files (snappy, Spark's built-in vectorized ORC "
    "writer) and reads back through the vectorized ORC scan into the "
    "same typed aggregate; the oracle computes the aggregate from "
    "the parquet source, so the hash check pins write+read "
    "LOSSLESSNESS of the container, not just execution. At 100 TB "
    "this is the format-interop seam: predicate pushdown and column "
    "pruning work on ORC exactly as on parquet (same DataSource v2 "
    "scan contract)",
)
def q_a16(spark, sf_dir):
    import shutil
    import tempfile

    docs = Catalog(spark, sf_dir).documents
    root = tempfile.mkdtemp(prefix="jane_orc_")
    try:
        docs.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", "lang", "source", "n_chars"
        ).write.mode("overwrite").orc(root)
        back = spark.read.orc(root)
        return (
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_chars").alias("sum_chars"),
                F.countDistinct("source").cast("bigint").alias("n_sources"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@contract(
    "q_a14_csv",
    oracle="""
        WITH g AS (SELECT lang, n_chars, doc_id % 7 <> 0 AS ok
                   FROM documents)
        SELECT CASE WHEN ok THEN lang ELSE '_corrupt' END AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN ok THEN n_chars ELSE 0 END) AS BIGINT)
                   AS sum_chars
        FROM g GROUP BY 1
    """,
    survey_rows="A14,A11,A4",
    doc="CSV source with corrupt-record QUARANTINE "
    "(sources/jsonl.read_csv_quarantine — the q_a11 recipe through "
    "spark.read.csv): documents serialize to headerless CSV, every "
    "7th row's numeric field is replaced by garbage, and PERMISSIVE "
    "+ columnNameOfCorruptRecord recovers typed rows while "
    "quarantining the malformed raw lines — the same never-drop/"
    "never-fail contract as the JSON path, so pipelines can swap "
    "containers without changing error handling. REAL files + real "
    "csv reader; the oracle derives the partition arithmetically",
)
def q_a14(spark, sf_dir):
    import shutil
    import tempfile

    from jane_spark.sources.jsonl import read_csv_quarantine

    docs = Catalog(spark, sf_dir).documents
    line = F.concat(
        F.col("doc_id").cast("string"), F.lit(","),
        F.col("lang"), F.lit(","),
        F.col("n_chars").cast("string"),
    )
    broken = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("doc_id").cast("string"), F.lit(","),
            F.col("lang"), F.lit(",oops"),
        ),
    ).otherwise(line)
    root = tempfile.mkdtemp(prefix="jane_csv_")
    try:
        docs.select(broken.alias("value")).write.mode("overwrite").text(root)
        good, quarantine = read_csv_quarantine(
            spark, root, "doc_id long, lang string, n_chars long"
        )
        g = good.groupBy(F.col("lang").alias("bucket")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
        )
        q = quarantine.agg(
            F.count(F.lit(1)).alias("n"),
            F.lit(0).cast("bigint").alias("sum_chars"),
        ).select(F.lit("_corrupt").alias("bucket"), "n", "sum_chars")
        out = g.unionByName(q).localCheckpoint(eager=True)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


@contract(
    "q_a17_avro",
    oracle="""
        WITH g AS (SELECT lang, n_chars, doc_id % 7 <> 0 AS ok
                   FROM documents)
        SELECT CASE WHEN ok THEN lang ELSE '_corrupt' END AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN ok THEN n_chars ELSE 0 END) AS BIGINT)
                   AS sum_chars
        FROM g GROUP BY 1
    """,
    survey_rows="A17,A11,A4",
    doc="Avro Object Container source with per-block QUARANTINE — "
    "the fourth quarantine container (the Kafka-lake interchange "
    "format) through the q_a11 never-drop recipe. No spark-avro jar "
    "and no python avro package ship in this build (verified — the "
    "a15 lesson), so sources/avro_container implements the PUBLIC "
    "Apache Avro 1.12 spec from scratch (magic + metadata map + "
    "sync-delimited blocks; null AND deflate codecs — both exercised "
    "here, split by shard parity; primitives + nullable unions): "
    "documents pack into 8 real container files, one record per "
    "block, every 7th record's block truncated 5 bytes before "
    "compression, and the reader recovers typed rows while "
    "quarantining undecodable blocks with declared counts and raw "
    "bytes intact. The oracle derives the good/corrupt partition "
    "arithmetically (doc_id % 7), so one mis-parsed varint, union "
    "index, or codec frame hash-mismatches. Round-trip, "
    "never-drop, codec, and header-quarantine laws pytest-pinned",
)
def q_a17(spark, sf_dir):
    import os
    import shutil
    import tempfile

    import pandas as pd

    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", "lang", "n_chars"
    )
    fields = [("doc_id", "long"), ("lang", "string"), ("n_chars", "long")]
    root = tempfile.mkdtemp(prefix="jane_avro_")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        from jane_spark.sources.avro_container import (
            encode_block,
            write_avro_bytes,
        )

        pdf = pdf.sort_values("doc_id")
        sh = int(pdf["shard"].iloc[0])
        blocks = []
        for _, row in pdf.iterrows():
            rec = {
                "doc_id": int(row.doc_id),
                "lang": str(row.lang),
                "n_chars": int(row.n_chars),
            }
            data = encode_block([rec], fields)
            if rec["doc_id"] % 7 == 0:
                data = data[:-5]  # the q_a11 truncation, pre-compression
            blocks.append((1, data))
        payload = write_avro_bytes(
            None, fields,
            codec="deflate" if sh % 2 == 0 else "null",
            raw_blocks=blocks,
        )
        with open(os.path.join(root, f"part-{sh:04d}.avro"), "wb") as f:
            f.write(payload)
        return pd.DataFrame({"shard": [sh]})

    try:
        from jane_spark.sources.avro_container import read_avro_quarantine

        src = docs.withColumn("shard", (F.col("doc_id") % 8).cast("int"))
        # force the container writes (plan-build-time construction —
        # a build that launches jobs, which bench.py rebuilds per run,
        # like the other A-series fixture builders); executor-local
        # writes need local/shared storage, the write_webdataset caveat
        src.groupBy("shard").applyInPandas(build, "shard int").collect()
        good, quarantine = read_avro_quarantine(
            spark, f"{root}/*.avro", "doc_id long, lang string, n_chars long"
        )
        g = good.groupBy(F.col("lang").alias("bucket")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
        )
        q = quarantine.agg(
            F.count(F.lit(1)).alias("n"),
            F.lit(0).cast("bigint").alias("sum_chars"),
        ).select(F.lit("_corrupt").alias("bucket"), "n", "sum_chars")
        out = g.unionByName(q).localCheckpoint(eager=True)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)
