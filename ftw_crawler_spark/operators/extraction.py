"""The extraction engine: one wide projection over the resource frame.

Reference: ftw/crawler/extractors.py:79-143 (ExtractionEngine) — a
sequential per-document loop over declared fields. Here the same field
semantics run as ONE DataFrame projection per crawl batch:

- fields whose semantics are expressible byte-identically as Spark
  Column expressions (UID md5-uuid, url/target coalesce, constants,
  header/field mappings, site attributes) are compiled to native
  columns → whole-stage codegen, zero Python;
- every remaining field is evaluated inside a SINGLE Arrow-vectorized
  pandas UDF returning a struct — one HTML parse per row shared by all
  DOM-dependent extractors (title cascade, snippet), dateutil-lenient
  date parsing, slugify (the semantics Spark exprs can't reproduce).

Field-level semantics (extractors.py:124-143): missing-optional → NULL
column; missing-required → epoch / type-zero default; multivalued
fields always land as arrays (a scalar extraction is wrapped — the
schema-level coercion Solr performed for the reference's multivalued
fields).
"""

from __future__ import annotations

from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ftw_crawler_spark import config as cfg
from ftw_crawler_spark.config import NO_VALUE

# resource-frame columns every extraction consumes (ResourceInfo analog,
# reference ftw/crawler/resource.py:1-13)
RESOURCE_COLUMNS = ("loc", "lastmod", "target", "html", "text",
                    "content_type", "headers", "site_attributes")


def spark_type(field: cfg.Field) -> T.DataType:
    if issubclass(field.type_, datetime):
        elem: T.DataType = T.TimestampType()
    elif issubclass(field.type_, bool):
        elem = T.BooleanType()
    else:
        elem = T.StringType()
    return T.ArrayType(elem) if field.multivalued else elem


def document_schema(config: cfg.CrawlerConfig) -> T.StructType:
    return T.StructType(
        [T.StructField(f.name, spark_type(f), True) for f in config.fields])


# ---------------------------------------------------------------------------
# native-path compilation
# ---------------------------------------------------------------------------


def md5_uuid_col(url_col: Column) -> Column:
    """UID as native SQL: md5 hex → 8-4-4-4-12 (identical string to
    uuid.UUID(bytes=md5digest) — extractors.py:152-158)."""
    h = F.md5(url_col)
    return F.concat_ws(
        "-", F.substring(h, 1, 8), F.substring(h, 9, 4),
        F.substring(h, 13, 4), F.substring(h, 17, 4), F.substring(h, 21, 12))


def _mapping_case(source: Column, mapping: dict, default) -> Column:
    expr = None
    for k, v in mapping.items():
        cond = source == F.lit(k)
        expr = F.when(cond, F.lit(v)) if expr is None else \
            expr.when(cond, F.lit(v))
    if default is not None:
        # reference: default also applies when header/field missing
        # (extractors.py:429-442)
        return expr.otherwise(F.lit(default)) if expr is not None \
            else F.lit(default)
    return expr


def _native_expr(field: cfg.Field, config: cfg.CrawlerConfig,
                 crawl_time: datetime) -> Column | None:
    """Return a byte-exact Column for this field, or None if it needs the
    Python path."""
    ex = field.extractor
    if isinstance(ex, cfg.UIDExtractor):
        return md5_uuid_col(F.col("loc"))
    if isinstance(ex, cfg.URLExtractor):
        return F.col("loc")
    if isinstance(ex, cfg.TargetURLExtractor):
        return F.coalesce(F.col("target"), F.col("loc"))
    if isinstance(ex, cfg.IndexingTimeExtractor):
        return F.lit(crawl_time)
    if isinstance(ex, cfg.ConstantExtractor):
        v = ex.value
        if field.multivalued:
            return F.array(*[F.lit(x) for x in v])
        return F.lit(v)
    if isinstance(ex, cfg.SiteAttributeExtractor):
        attr = F.col("site_attributes").getItem(ex.key)
        if field.multivalued:
            return F.when(attr.isNotNull(), F.array(attr))
        return attr
    if isinstance(ex, cfg.HeaderMappingExtractor):
        src = F.col("headers")[ex.header_name.lower()]
        if ex.header_name.lower() == "content-type":
            src = F.split(src, ";").getItem(0)
        return _mapping_case(src, ex.mapping, ex.default)
    if isinstance(ex, cfg.FieldMappingExtractor):
        src_field = config.get_field(ex.field_name)
        src_expr = _native_expr(src_field, config, crawl_time)
        if src_expr is not None:
            return _mapping_case(src_expr, ex.mapping, ex.default)
        return None
    return None


# ---------------------------------------------------------------------------
# python-path UDF
# ---------------------------------------------------------------------------


def _coerce(value, field: cfg.Field):
    """Field-level conformance (extractors.py:104-143): NO_VALUE handling
    is done by the caller; here: multivalued wrap + datetime → naive-UTC
    for Arrow."""
    if value is NO_VALUE or value is None:
        return None

    def conv(v):
        if isinstance(v, datetime):
            if v.tzinfo is not None:
                v = v.astimezone(timezone.utc).replace(tzinfo=None)
            return v
        return v

    if field.multivalued:
        if not isinstance(value, (list, tuple)):
            value = [value]  # schema-level multivalued coercion
        return [conv(v) for v in value]
    return conv(value)


def _python_fields_udf(config: cfg.CrawlerConfig, fields: list,
                       crawl_time: datetime,
                       emit_outlinks: bool = False):
    schema = T.StructType(
        [T.StructField(f.name, spark_type(f), True) for f in fields])
    if emit_outlinks:
        # resolved anchor hrefs out of the SAME per-row DOM parse the
        # field extractors share (row.get_dom()) — the crawl loop's
        # link-following discovery reads this column instead of
        # re-reading and re-parsing the page bytes
        schema = schema.add(T.StructField(
            "__outlinks", T.ArrayType(T.StringType()), True))
    crawl_time_naive = crawl_time
    if crawl_time_naive.tzinfo is not None:
        crawl_time_naive = crawl_time_naive.astimezone(
            timezone.utc).replace(tzinfo=None)
    ct_aware = crawl_time_naive.replace(tzinfo=timezone.utc)

    def extract(loc: pd.Series, lastmod: pd.Series, target: pd.Series,
                html: pd.Series, text: pd.Series, content_type: pd.Series,
                headers: pd.Series, attributes: pd.Series) -> pd.DataFrame:
        n = len(loc)
        # one bulk tolist() per column: Series.iloc[i] in the row loop
        # is ~19% of UDF wall time at bench scale (pandas indexing
        # machinery per cell); list indexing is free
        locs, lastmods, targets = \
            loc.tolist(), lastmod.tolist(), target.tolist()
        htmls, texts, cts = html.tolist(), text.tolist(), \
            content_type.tolist()
        hdrs, attrs = headers.tolist(), attributes.tolist()
        out: dict[str, list] = {f.name: [None] * n for f in fields}
        if emit_outlinks:
            from ftw_crawler_spark.functions.html import doc_outlinks
            out["__outlinks"] = [None] * n
        for i in range(n):
            row = cfg._RowCtx(
                locs[i], lastmods[i], targets[i],
                htmls[i], texts[i], cts[i],
                hdrs[i], attrs[i], ct_aware)
            for f in fields:
                value = f.extractor.eval_row(row)
                if value is NO_VALUE:
                    if f.required:
                        value = f.default_value()
                    else:
                        out[f.name][i] = None
                        continue
                out[f.name][i] = _coerce(value, f)
            if emit_outlinks:
                out["__outlinks"][i] = [
                    dst for dst, _ in
                    doc_outlinks(row.get_dom(), locs[i])]
        return pd.DataFrame(out)

    return F.pandas_udf(extract, returnType=schema)


# ---------------------------------------------------------------------------
# the wide projection
# ---------------------------------------------------------------------------


def extract_documents(resources: DataFrame, config: cfg.CrawlerConfig,
                      crawl_time: datetime,
                      passthrough: tuple = (),
                      emit_outlinks: bool = False) -> DataFrame:
    """Project the resource frame into the declared document schema.

    ``resources`` must carry RESOURCE_COLUMNS (+ optional ``passthrough``
    columns such as crawl_seq / site_id / crawler_site_id kept for
    lineage and the index sink).

    ``emit_outlinks`` adds a ``__outlinks array<string>`` column of
    resolved anchor hrefs computed from the SAME per-row DOM parse the
    field extractors share — the crawl loop's ``--follow-links``
    discovery consumes it, so following links never re-reads or
    re-parses page bytes.
    """
    if crawl_time.tzinfo is not None:
        crawl_time = crawl_time.astimezone(timezone.utc).replace(tzinfo=None)

    native: dict[str, Column] = {}
    python_fields: list[cfg.Field] = []
    for f in config.fields:
        expr = _native_expr(f, config, crawl_time)
        if expr is not None:
            if f.required:
                default = f.default_value()
                if f.multivalued:
                    expr = F.coalesce(expr, F.array())
                else:
                    expr = F.coalesce(expr, F.lit(default))
            native[f.name] = expr
        else:
            python_fields.append(f)

    cols: list[Column] = [F.col(c) for c in passthrough]
    if python_fields or emit_outlinks:
        udf = _python_fields_udf(config, python_fields, crawl_time,
                                 emit_outlinks=emit_outlinks)
        struct_col = udf(*[F.col(c) for c in RESOURCE_COLUMNS])
        tmp = resources.withColumn("__extracted", struct_col)
        for f in config.fields:
            if f.name in native:
                cols.append(native[f.name].alias(f.name))
            else:
                cols.append(F.col("__extracted").getField(f.name)
                            .alias(f.name))
        if emit_outlinks:
            cols.append(F.col("__extracted").getField("__outlinks")
                        .alias("__outlinks"))
        return tmp.select(*cols)

    for f in config.fields:
        cols.append(native[f.name].alias(f.name))
    return resources.select(*cols)
