"""Spark extraction operators over the interleaved text+media docs table.

Design (SURVEY.md §7.0): the relational shell stays declarative (Catalyst
sees scans/filters/joins/aggregations); the per-document sequential kernel
runs inside Arrow-batched ``mapInArrow`` — documents are a few hundred
lines, so parallelism lives across documents. No per-row Python UDFs, no
RDDs, no driver-side loops:

* ``docs_dataframe`` synthesizes the corpus DISTRIBUTIVELY
  (``spark.range(n)`` -> per-partition generation) — at 10^10-doc scale the
  driver never materializes a row.
* ``extract_records`` emits one row per doc: the full nested record as JSON
  plus typed hot columns, lineage rows and per-category call counts — one
  parse pass fans out to the record/lineage/metrics planes via cheap
  ``explode`` projections instead of re-parsing.
* ``spans_view`` is the span-sequence passthrough used by the per-row
  invariant test (kind, text, media_ref, order) — BASELINE.json:15.
"""

from __future__ import annotations

import json
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fixtures

SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
])

LINEAGE_STRUCT = T.StructType([
    T.StructField("category", T.StringType()),
    T.StructField("start_idx", T.IntegerType()),
    T.StructField("end_idx", T.IntegerType()),
    T.StructField("origin", T.StringType()),
    T.StructField("parsed", T.StringType()),
])

MANAGER_STRUCT = T.StructType([
    T.StructField("title", T.StringType()),
    T.StructField("firstName", T.StringType()),
    T.StructField("lastName", T.StringType()),
    T.StructField("cityAcc", T.StringType()),
    T.StructField("funct", T.StringType()),
    T.StructField("bemerkung", T.StringType()),
])

ORGANBEZUG_STRUCT = T.StructType([
    T.StructField("jahr", T.StringType()),
    T.StructField("organ", T.StringType()),
    T.StructField("bezuege", T.StringType()),
    T.StructField("bemerkung", T.StringType()),
])

AKTIONAER_STRUCT = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("ort", T.StringType()),
    T.StructField("anteil", T.StringType()),
])

KURS_STRUCT = T.StructType([
    T.StructField("jahr", T.StringType()),
    T.StructField("hoechst", T.StringType()),
    T.StructField("tiefst", T.StringType()),
    T.StructField("ultimo", T.StringType()),
    T.StructField("kommentar", T.StringType()),
])

DIVIDENDE_STRUCT = T.StructType([
    T.StructField("jahr", T.StringType()),
    T.StructField("dividende", T.StringType()),
    T.StructField("bonus", T.StringType()),
    T.StructField("sonderausschuettung", T.StringType()),
    T.StructField("steuerguthaben", T.StringType()),
    T.StructField("divscheinnr", T.StringType()),
    T.StructField("extag", T.StringType()),
    T.StructField("kupon_nr", T.StringType()),
])

# long-format rows for the dynamic pivots (data-dependent field names become
# a `name` column — MapType keys relationalized; SURVEY.md §1.2)
KENNZAHL_ROW = T.StructType([
    T.StructField("kopfzeile", T.StringType()),
    T.StructField("jahr", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("value", T.StringType()),
])

BILANZ_ROW = T.StructType([
    T.StructField("gruppe", T.StringType()),
    T.StructField("jahr", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("value", T.StringType()),
    T.StructField("waehrung", T.StringType()),
])

GUV_ROW = T.StructType([
    T.StructField("jahr", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("value", T.StringType()),
    T.StructField("waehrung", T.StringType()),
])

KAPITAL_ROW = T.StructType([
    T.StructField("komponente", T.StringType()),
    T.StructField("jahr", T.StringType()),
    T.StructField("art", T.StringType()),
    T.StructField("betrag", T.StringType()),
    T.StructField("text", T.StringType()),
])

BB_HEAD_STRUCT = T.StructType([
    T.StructField("callnumber", T.IntegerType()),
    T.StructField("wkn", T.StringType()),
    T.StructField("wkn_art", T.StringType()),
    T.StructField("isin", T.StringType()),
    T.StructField("isin_art", T.StringType()),
])

ERGEBNIS_STRUCT = T.StructType([
    T.StructField("jahr", T.StringType()),
    T.StructField("betrag", T.StringType()),
])

EIGNER_STRUCT = T.StructType([
    T.StructField("eigner", T.StringType()),
    T.StructField("anteil", T.StringType()),
    T.StructField("bemerkung", T.StringType()),
])

BETEILIGUNG_STRUCT = T.StructType([
    T.StructField("ueberschrift", T.StringType()),
    T.StructField("beteiliger", T.StringType()),
    T.StructField("ort", T.StringType()),
    T.StructField("anteil", T.StringType()),
    T.StructField("bemerkung", T.StringType()),
])

LK_STRUCT = T.StructType([
    T.StructField("firstname", T.StringType()),
    T.StructField("lastname", T.StringType()),
    T.StructField("phone", T.StringType()),
    T.StructField("fax", T.StringType()),
    T.StructField("email", T.StringType()),
])

# investorRelations/publicRelations entry (ref lib/parser_persons.js:276-367:
# each person is a LIST of partial one-key dicts, merged here into one row)
RELATIONS_STRUCT = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("telefon", T.StringType()),
    T.StructField("fax", T.StringType()),
    T.StructField("email", T.StringType()),
    T.StructField("funct", T.StringType()),
])

SITZ_STRUCT = T.StructType([
    T.StructField("typ", T.StringType()),
    T.StructField("street", T.StringType()),
    T.StructField("street_number", T.StringType()),
    T.StructField("zip", T.StringType()),
    T.StructField("city", T.StringType()),
])

RECORDS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("wkn", T.StringType()),
    T.StructField("isin", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("established_year", T.IntegerType()),
    T.StructField("city", T.StringType()),
    T.StructField("zip", T.StringType()),
    T.StructField("street", T.StringType()),
    T.StructField("emails", T.ArrayType(T.StringType())),
    T.StructField("activity_description", T.StringType()),
    T.StructField("aufsichtsrat", T.ArrayType(MANAGER_STRUCT)),
    T.StructField("vorstand", T.ArrayType(MANAGER_STRUCT)),
    T.StructField("organbezuege", T.ArrayType(ORGANBEZUG_STRUCT)),
    T.StructField("aktionaer", T.ArrayType(AKTIONAER_STRUCT)),
    T.StructField("grundkapital_betrag", T.StringType()),
    T.StructField("kurse", T.ArrayType(KURS_STRUCT)),
    T.StructField("dividenden", T.ArrayType(DIVIDENDE_STRUCT)),
    T.StructField("kennzahlen_rows", T.ArrayType(KENNZAHL_ROW)),
    T.StructField("bilanzen_rows", T.ArrayType(BILANZ_ROW)),
    T.StructField("guv_rows", T.ArrayType(GUV_ROW)),
    T.StructField("kapital_rows", T.ArrayType(KAPITAL_ROW)),
    T.StructField("bb_heads", T.ArrayType(BB_HEAD_STRUCT)),
    T.StructField("ergebnisabfuehrung", T.ArrayType(ERGEBNIS_STRUCT)),
    T.StructField("anteilseigner", T.ArrayType(EIGNER_STRUCT)),
    T.StructField("sitz_all", T.ArrayType(SITZ_STRUCT)),
    T.StructField("beteiligungen", T.ArrayType(BETEILIGUNG_STRUCT)),
    T.StructField("leitung_kommunikation", T.ArrayType(LK_STRUCT)),
    T.StructField("public_relations", T.ArrayType(RELATIONS_STRUCT)),
    T.StructField("investor_relations", T.ArrayType(RELATIONS_STRUCT)),
    T.StructField("geschleitung", T.ArrayType(MANAGER_STRUCT)),
    T.StructField("unternehmens_vertraege", T.ArrayType(T.StringType())),
    T.StructField("sonstige_angaben",
                  T.ArrayType(T.ArrayType(T.StringType()))),
    T.StructField("unparsed_chars", T.IntegerType()),
    T.StructField("fulltext_chars", T.IntegerType()),
    T.StructField("n_categories", T.IntegerType()),
    T.StructField("n_media_spans", T.IntegerType()),
    T.StructField("record_json", T.StringType()),
    T.StructField("lineage", T.ArrayType(LINEAGE_STRUCT)),
    T.StructField("call_counts", T.MapType(T.StringType(), T.IntegerType())),
    T.StructField("error", T.StringType()),
])


# ---------------------------------------------------------------------------
# distributed corpus synthesis
# ---------------------------------------------------------------------------


# Arrow twin of SPAN_STRUCT for the direct RecordBatch builders below:
# building list<struct> columns with pyarrow directly skips the pandas
# object-column detour (per-row dict inference) on the Python->JVM hop —
# measured 2.2s -> 1.27s for the 64k-doc synthesis noop (guide §4.1: you
# control how efficiently columns cross the boundary).
_SPAN_ARROW = None


def _span_arrow_type():
    global _SPAN_ARROW
    if _SPAN_ARROW is None:
        import pyarrow as pa
        _SPAN_ARROW = pa.list_(pa.struct([
            ("kind", pa.string()), ("text", pa.string()),
            ("media_ref", pa.string()), ("offset", pa.int32())]))
    return _SPAN_ARROW


def docs_dataframe(spark: SparkSession, n_docs: int,
                   partitions: int | None = None) -> DataFrame:
    """Synthesize the docs table distributively: ``spark.range`` provides the
    doc indices, each partition renders its own documents (no driver-side
    corpus). Deterministic regardless of partitioning."""
    return docs_from_synth(spark, n_docs,
                           lambda i: fixtures.synth_html(i, n_docs),
                           fixtures.doc_id_for, partitions)


def docs_from_synth(spark: SparkSession, n_docs: int, html_fn, id_fn,
                    partitions: int | None = None) -> DataFrame:
    """Docs table from an arbitrary deterministic per-index HTML
    synthesizer — distributed construction (each partition renders its own
    documents; no driver-side corpus), emitting Arrow record batches
    directly. Used by ``docs_dataframe`` and by queries that need a
    purpose-built mini-corpus exercising a section the shared corpus does
    not contain (e.g. E9/E19)."""
    partitions = partitions or max(2, min(64, n_docs // 64 or 2))
    base = spark.range(0, n_docs, 1, partitions)

    def gen(batches):
        import pyarrow as pa
        span_t = _span_arrow_type()
        for b in batches:
            ids = b.column("id").to_pylist()
            yield pa.RecordBatch.from_arrays(
                [pa.array([id_fn(int(i)) for i in ids], pa.string()),
                 pa.array([fixtures.html_to_spans(html_fn(int(i)))
                           for i in ids], span_t)],
                ["doc_id", "spans"])

    return base.mapInArrow(gen, DOCS_SCHEMA)


def spans_view(docs: DataFrame) -> DataFrame:
    """Per-row span sequence (kind, text, media_ref, order) — the invariant
    surface. ``posexplode`` keeps the in-array order as ``seq``."""
    return docs.select(
        "doc_id",
        F.posexplode("spans").alias("seq", "span"),
    ).select(
        "doc_id", "seq",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


# ---------------------------------------------------------------------------
# extraction operator
# ---------------------------------------------------------------------------


def _parse_profile(doc_id: str, text: str, n_media: int) -> dict:
    from ..kernel import coverage, parse_document

    try:
        rec, lineage, counts = parse_document(text or "")
        err = "; ".join(rec.get("_errors", [])) or None
    except Exception as exc:  # never fail the job on one doc (S7)
        return {"doc_id": doc_id, "n_media_spans": n_media,
                "error": f"{type(exc).__name__}: {exc}", "record_json": None}

    sitz = (rec.get("Sitz") or [{}])[0]
    wkn = next((e.get("wkn") for e in rec.get("all_wkn_entry", []) if e.get("wkn")), None)
    isin = next((e.get("isin") for e in rec.get("all_wkn_entry", []) if e.get("isin")), None)

    def managers(key):
        src = rec.get(key) or []
        if src and isinstance(src[0], list):  # reference nests vorstand pushes
            src = [m for grp in src for m in grp]
        return [{f.name: m.get(f.name) for f in MANAGER_STRUCT.fields}
                for m in src] or None

    organ = [e for grp in (rec.get("organbezuege") or []) for e in grp]
    organ = [{f.name: e.get(f.name) for f in ORGANBEZUG_STRUCT.fields}
             for e in organ] or None

    akt = rec.get("aktionaer") or (rec.get("gesellschafter") or {}).get("aktionaere") or []
    akt = [{f.name: a.get(f.name) for f in AKTIONAER_STRUCT.fields}
           for a in akt] or None

    kurse = []
    for key, block in (rec.get("boersenbewertung") or {}).items():
        for k in (block or {}).get("kurse", []):
            kurse.append({f.name: k.get(f.name) for f in KURS_STRUCT.fields})

    typed = _typed_projections(rec)
    unparsed_chars, fulltext_chars = coverage.coverage_stats(rec)

    return {
        **typed,
        "unparsed_chars": unparsed_chars,
        "fulltext_chars": fulltext_chars,
        "doc_id": doc_id,
        "name": rec.get("name"),
        "wkn": wkn,
        "isin": isin,
        "status": rec.get("status"),
        "established_year": rec.get("established_year"),
        "city": sitz.get("city"),
        "zip": sitz.get("zip"),
        "street": sitz.get("street"),
        "emails": sitz.get("email"),
        "activity_description": rec.get("activity_description"),
        "aufsichtsrat": managers("aufsichtsrat"),
        "vorstand": managers("vorstand"),
        "organbezuege": organ,
        "aktionaer": akt,
        "grundkapital_betrag": (rec.get("grundkapital") or {}).get("betrag"),
        "kurse": kurse or None,
        "n_categories": len(counts),
        "n_media_spans": n_media,
        "record_json": json.dumps(rec, ensure_ascii=False, default=str),
        "lineage": lineage,
        "call_counts": counts,
        "error": err,
    }


def _fill(struct: T.StructType, row: dict) -> dict:
    return {f.name: row.get(f.name) for f in struct.fields}


def _typed_projections(rec: dict) -> dict:
    """Relationalize the nested record planes into long-format typed arrays
    (kennzahlen/bilanzen MapType keys become `name` rows) so every table
    extractor is driver-oracle-checkable."""
    dividenden, kenn_rows, bb_heads, ergebnis = [], [], [], []
    for key, block in (rec.get("boersenbewertung") or {}).items():
        block = block or {}
        try:
            cn = int(key.replace("boersenbewertung", "") or 1)
        except ValueError:
            cn = 1
        for d in block.get("dividenden", []):
            dividenden.append(_fill(DIVIDENDE_STRUCT, d))
        for kopf, rows in (block.get("kennzahlen") or {}).items():
            for r in rows:
                jahr = r.get("jahr")
                for n, v in r.items():
                    if n != "jahr":
                        kenn_rows.append({"kopfzeile": kopf, "jahr": jahr,
                                          "name": n, "value": v})
        wkns = block.get("wkns") or []
        isins = block.get("isins") or []
        if wkns or isins:
            w0 = wkns[0] if wkns else {}
            i0 = isins[0] if isins else {}
            bb_heads.append({"callnumber": cn,
                             "wkn": w0.get("nummer"),
                             "wkn_art": w0.get("aktienart"),
                             "isin": i0.get("nummer"),
                             "isin_art": i0.get("aktienart")})
        for e in block.get("ergebnisabfuehrung", []):
            ergebnis.append({"jahr": e.get("jahr"), "betrag": e.get("betrag")})

    bil_rows = []
    for blk in rec.get("ausBilanzen") or []:
        w = blk.get("waehrung")
        for gruppe, rows in (blk.get("ausBilanzen") or {}).items():
            for r in rows:
                jahr = r.get("jahr")
                for n, v in r.items():
                    if n not in ("jahr", "columnId"):
                        bil_rows.append({"gruppe": gruppe, "jahr": jahr,
                                         "name": n, "value": v, "waehrung": w})

    guv_rows = []
    for blk in rec.get("ausGewinnUndVerlust") or []:
        w = blk.get("waehrung")
        for r in blk.get("ausGewinnUndVerlustRechnung") or []:
            jahr = r.get("jahr")
            for n, v in r.items():
                if n not in ("jahr", "columnId"):
                    guv_rows.append({"jahr": jahr, "name": n, "value": v,
                                     "waehrung": w})

    krows = []

    def krow(komponente, jahr=None, art=None, betrag=None, text=None):
        krows.append({"komponente": komponente, "jahr": jahr, "art": art,
                      "betrag": betrag, "text": text})

    for grp in rec.get("kapitalEntwicklung") or []:
        for e in grp.get("eintraege") or []:
            krow("kapitalEntwicklung", grp.get("jahr"), e.get("art"),
                 e.get("betrag"), e.get("text"))
    gk = rec.get("grundkapital")
    if gk:
        bems = [t for grp in (gk.get("bemerkungen") or []) for t in grp]
        krow("grundkapital", betrag=gk.get("betrag"),
             text="; ".join(bems) or None)
    for st in rec.get("stückelung") or []:
        krow("stueckelung", text=st)
    for sr in rec.get("stimmrecht") or []:
        krow("stimmrecht", text=sr)
    g = rec.get("genehmigtesKapital")
    if g:
        krow("genehmigtesKapital", betrag=g.get("betrag"),
             text=g.get("bemerkung"))
    b = rec.get("bedingtesKapital")
    if b:
        krow("bedingtesKapital", betrag=b.get("betrag"),
             text="; ".join(e.get("bemerkung", "")
                            for e in b.get("eintraege") or []) or None)
    for e in rec.get("besBezugsrechte") or []:
        krow("besBezugsrechte", jahr=e.get("jahr"),
             text="; ".join(e.get("bemerkungen") or []) or None)
    erm = rec.get("ermächtigungAktienerwerb")
    if erm:
        krow("ermaechtigungAktienerwerb",
             text="; ".join(erm.get("text") or []) or None)
    for e in rec.get("entwicklungDesGenusKapitals") or []:
        krow("entwicklungGenusKapital", jahr=e.get("jahr"), text=e.get("text"))
    gg = rec.get("genehmigtesGenusKapital")
    if gg:
        krow("genehmigtesGenusKapital", betrag=gg.get("betrag"),
             text=gg.get("bemerkung"))
    dg = rec.get("derzeitigesGenusKapital")
    if dg:
        bems = [t for grp in (dg.get("bemerkungen") or []) for t in grp]
        krow("derzeitigesGenusKapital", betrag=dg.get("betrag"),
             text="; ".join(bems) or None)
    for e in (rec.get("ausgegebenesKapital") or {}).get("eintraege") or []:
        krow("ausgegebenesKapital", art=e.get("notiz"), betrag=e.get("betrag"),
             text=e.get("stueckelung"))

    eigner = [_fill(EIGNER_STRUCT, e) for e in rec.get("anteilsEigner") or []]
    sitz_all = [{"typ": s.get("type"), "street": s.get("street"),
                 "street_number": s.get("street_number"),
                 "zip": s.get("zip"), "city": s.get("city")}
                for s in rec.get("Sitz") or []]
    # E14 participations flattened (group heading repeated per row) —
    # ref lib/parser_aktionaer_eigner_beteiligungen.js:207-290,490-528
    beteiligungen = [
        {"ueberschrift": grp.get("ueberschrift"),
         **{f: z.get(f) for f in ("beteiliger", "ort", "anteil", "bemerkung")}}
        for grp in rec.get("beteiligungen") or []
        for z in grp.get("zeilen") or [] if isinstance(z, dict)]
    # E10 Leitung Kommunikation (ref lib/parser_persons.js:460-529)
    lk = [_fill(LK_STRUCT, p)
          for p in (rec.get("leitung_kommunikation") or {}).get("leiter") or []
          if isinstance(p, dict)]

    # E20 investor/public relations (ref lib/parser_persons.js:276-367):
    # the kernel emits each person as a LIST of one-key partial dicts —
    # merge them into one typed row per person
    def _relations(key):
        out = []
        for person in rec.get(key) or []:
            merged: dict = {}
            for d in person if isinstance(person, list) else [person]:
                if isinstance(d, dict):
                    merged.update(d)
            out.append(_fill(RELATIONS_STRUCT, merged))
        return out

    # E9 Geschäftsleitung (ref lib/parser.js:743-777): flat person list
    gl = [_fill(MANAGER_STRUCT, m)
          for m in rec.get("geschleitung") or [] if isinstance(m, dict)]
    uv = [v for v in rec.get("unternehmensVertraege") or []
          if isinstance(v, str)]

    return {
        "beteiligungen": beteiligungen or None,
        "leitung_kommunikation": lk or None,
        "public_relations": _relations("publicRelations") or None,
        "investor_relations": _relations("investorRelations") or None,
        "geschleitung": gl or None,
        "unternehmens_vertraege": uv or None,
        # E6 key-value pairs (ref lib/parser.js:481-508): split(':') lists
        "sonstige_angaben": [
            [str(x) for x in pair]
            for pair in rec.get("sonstigeAngaben") or []
            if isinstance(pair, list)] or None,
        "dividenden": dividenden or None,
        "kennzahlen_rows": kenn_rows or None,
        "bilanzen_rows": bil_rows or None,
        "guv_rows": guv_rows or None,
        "kapital_rows": krows or None,
        "bb_heads": bb_heads or None,
        "ergebnisabfuehrung": ergebnis or None,
        "anteilseigner": eigner or None,
        "sitz_all": sitz_all or None,
    }


def slim_docs(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) -> (doc_id, doc_text, n_media): the spans -> lines
    reassembly runs JVM-side (filter/sort/transform inside codegen) so only
    two flat columns ever cross the Arrow boundary — shipping the nested
    span structs to Python costs ~2x the parse itself, and shuffling them
    through a join costs ~3x. Pipelines that join the doc store repeatedly
    (the crawl loop) should slim ONCE and cache the result. The sort
    mirrors kernel/fixtures.spans_to_text: text spans by offset, stable."""
    text_expr = F.expr(
        "array_join(transform(array_sort("
        "  filter(spans, s -> s.kind = 'text'),"
        "  (a, b) -> case when a.offset < b.offset then -1 "
        "            when a.offset > b.offset then 1 else 0 end"
        "), s -> coalesce(s.text, '')), '\n')")
    n_media_expr = F.size(F.filter("spans", lambda s: s.kind == F.lit("media")))
    return docs.select("doc_id", text_expr.alias("doc_text"),
                       n_media_expr.alias("n_media"))


def extract_records(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) -> one typed row per document (full record as
    JSON + hot columns + lineage + metrics)."""
    return extract_records_slim(slim_docs(docs))


def extract_records_slim(slim: DataFrame) -> DataFrame:
    """(doc_id, doc_text, n_media) -> extracted records (see
    ``extract_records``); entry point for callers that pre-slim the store.
    Output batches are built with pyarrow directly, one ``pa.array`` per
    ``RECORDS_SCHEMA`` column (call counts as item lists) — no pandas
    frame and no object-column inference on the Python->JVM hop, the same
    boundary optimization as ``docs_from_synth`` and ``extract_for_crawl``."""

    def run(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(RECORDS_SCHEMA)
        for b in batches:
            rows = [_parse_profile(doc_id, text, n_media)
                    for doc_id, text, n_media in zip(
                        b.column("doc_id").to_pylist(),
                        b.column("doc_text").to_pylist(),
                        b.column("n_media").to_pylist())]
            for r in rows:
                if r.get("call_counts") is not None:
                    r["call_counts"] = list(r["call_counts"].items())
            yield pa.RecordBatch.from_arrays(
                [pa.array([r.get(f.name) for r in rows], f.type)
                 for f in schema], schema=schema)

    return slim.mapInArrow(run, RECORDS_SCHEMA)


CRAWL_PARSE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("link_names", T.ArrayType(T.StringType())),
    T.StructField("lineage", T.ArrayType(LINEAGE_STRUCT)),
    T.StructField("call_counts", T.MapType(T.StringType(), T.IntegerType())),
    T.StructField("error", T.StringType()),
])


def extract_for_crawl(slim: DataFrame) -> DataFrame:
    """Crawl-plane parse: the same kernel pass as ``extract_records_slim``
    but shipping ONLY what the crawl loop consumes — out-link names
    (Beteiligungen targets, extracted here instead of re-JSON-parsing
    ``record_json`` in a second mapInPandas), lineage rows and call counts.
    Dropping record_json + the typed planes cuts the Python->JVM Arrow
    traffic of the hot loop roughly in half; the record/typed planes remain
    available through ``extract_records`` for pipelines that consume them.
    Output batches are built with pyarrow directly (typed list/struct/map
    columns, no pandas object-column inference) — the same boundary
    optimization as ``docs_from_synth``.
    """

    def run(batches):
        import pyarrow as pa

        from ..kernel import parse_document

        lineage_t = pa.list_(pa.struct([
            ("category", pa.string()), ("start_idx", pa.int32()),
            ("end_idx", pa.int32()), ("origin", pa.string()),
            ("parsed", pa.string())]))
        counts_t = pa.map_(pa.string(), pa.int32())
        for b in batches:
            names_col, lin_col, cc_col, err_col = [], [], [], []
            for text in b.column("doc_text").to_pylist():
                try:
                    rec, lineage, counts = parse_document(text or "")
                    names = []
                    for group in rec.get("beteiligungen") or []:
                        for zeile in group.get("zeilen") or []:
                            if isinstance(zeile, dict):
                                nm = (zeile.get("beteiliger") or "").strip()
                                if nm:
                                    names.append(nm)
                    names_col.append(names or None)
                    lin_col.append(lineage)
                    cc_col.append(list(counts.items()))
                    err_col.append("; ".join(rec.get("_errors", [])) or None)
                except Exception as exc:  # S7: one bad doc never kills the job
                    names_col.append(None)
                    lin_col.append(None)
                    cc_col.append(None)
                    err_col.append(f"{type(exc).__name__}: {exc}")
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"),
                 pa.array(names_col, pa.list_(pa.string())),
                 pa.array(lin_col, lineage_t),
                 pa.array(cc_col, counts_t),
                 pa.array(err_col, pa.string())],
                ["doc_id", "link_names", "lineage", "call_counts", "error"])

    return slim.select("doc_id", "doc_text").mapInArrow(
        run, CRAWL_PARSE_SCHEMA)


def lineage_table(records: DataFrame) -> DataFrame:
    """Checkfile plane (S6): one row per (doc, category call)."""
    return records.select(
        "doc_id", F.explode("lineage").alias("entry")
    ).select("doc_id", "entry.category", "entry.start_idx", "entry.end_idx",
             "entry.origin", "entry.parsed")


def metrics_table(records: DataFrame) -> DataFrame:
    """Call-count plane (A1): groupBy(doc, category).count equivalent,
    computed from the per-doc map without re-shuffling the raw docs."""
    return records.select(
        "doc_id", F.explode("call_counts").alias("category", "call_count"))


def fulltext_view(docs: DataFrame) -> DataFrame:
    """D2 as pure Catalyst expressions (no Python): strip head, <br> -> ' ',
    drop all tags — whole-stage-codegen friendly."""
    joined = F.array_join(
        F.transform(F.filter("spans", lambda s: s.kind == F.lit("text")),
                    lambda s: s.text), "\n")
    stripped = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(joined, r"(?i)<head>[\s\S]*</head>", ""),
            "<br>", " "),
        "<[^>]+>", "")
    return docs.select("doc_id", stripped.alias("fulltext"))
