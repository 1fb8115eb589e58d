"""Corpus table access.

On a production cluster these are Iceberg tables (`spark.read.table`);
the sandbox has no Iceberg runtime jar, so the loader falls back to
parquet-by-path behind one interface — partition pruning / column pruning /
predicate pushdown semantics are identical at the DataFrame level. The
writer side (sinks.py) mirrors this: `writeTo(...).overwritePartitions()`
when a catalog is configured, else parquet `partitionBy` overwrite.

Parquet-by-path reads carry a declared schema (:func:`read_parquet`).
Without one, ``spark.read.parquet`` infers it with a one-task Spark job
per read, so building a DataFrame would run jobs before the caller asks
for a result. The DDL below is what Spark infers on the files
``datagen.write_parquet`` writes (``CORPUS_SCHEMAS``) and on the sf
tables (``SF_SCHEMAS``); tests/test_schemas.py holds both to that.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# written by datagen.write_parquet, read by CorpusTables
CORPUS_SCHEMAS: dict[str, str] = {
    "transcripts": "conv_id STRING,turn_idx INT,role STRING,text STRING,"
                   "tool STRING,ts TIMESTAMP",
    "conv_meta": "conv_id STRING,incident_id STRING,lang STRING,name STRING,"
                 "uri STRING,found_by ARRAY<STRING>",
    "conv_sources": "conv_id STRING,source STRING",
    "incidents": "incident_id STRING,incident_type STRING,"
                 "incident_type_uri STRING,participant_id STRING,"
                 "participant_event_label STRING",
    "incident_direct_types": "incident_id STRING,direct_type STRING",
    "incident_roles": "incident_id STRING,role STRING,value STRING",
    "role_mappings": "mapping_name STRING,role STRING,prop_path STRING",
    "type2mapping": "type_qid STRING,mapping_name STRING",
    "entity_labels": "qid STRING,label STRING",
    "gazetteer": "qid STRING,lang STRING,surface STRING,uri STRING,"
                 "prior DOUBLE",
    "langlinks": "lang STRING,uri STRING,other_lang STRING,other_uri STRING",
    "wd_sitelinks": "wiki_uri STRING,wd_uri STRING,lang STRING",
    "annotations": "conv_id STRING,surface_form STRING,uri STRING,offset INT",
    "srl_predicates": "conv_id STRING,pred_id STRING,frame STRING,"
                      "begin_tid INT,end_tid INT",
    "srl_roles": "conv_id STRING,pred_id STRING,role STRING,begin_tid INT,"
                 "end_tid INT",
    "ontology_edges": "child STRING,parent STRING",
}

TABLE_NAMES = tuple(CORPUS_SCHEMAS)

# the sf tables of the sf0.001 / sf0.01 / sf0.1 testdata, read by catalog._t
SF_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT,r_name STRING",
    "nation": "n_nationkey INT,n_name STRING,n_regionkey INT",
    "customer": "c_custkey BIGINT,c_name STRING,c_nationkey INT,"
                "c_acctbal DOUBLE,c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT,s_name STRING,s_nationkey INT,"
                "s_acctbal DOUBLE",
    "part": "p_partkey BIGINT,p_name STRING,p_brand STRING,p_type STRING,"
            "p_size INT,p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT,o_custkey BIGINT,o_orderstatus STRING,"
              "o_totalprice DOUBLE,o_orderdate TIMESTAMP_NTZ,"
              "o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT,l_partkey BIGINT,l_suppkey BIGINT,"
                "l_linenumber INT,l_quantity DOUBLE,l_extendedprice DOUBLE,"
                "l_discount DOUBLE,l_tax DOUBLE,l_returnflag STRING,"
                "l_linestatus STRING,l_shipdate TIMESTAMP_NTZ",
    "events": "event_id BIGINT,ts TIMESTAMP_NTZ,user_id BIGINT,"
              "event_type STRING,value DOUBLE,props STRING",
    "documents": "doc_id BIGINT,text STRING,lang STRING,source STRING,"
                 "n_chars BIGINT",
    "embeddings": "vec_id BIGINT,embedding ARRAY<FLOAT>,label INT",
}


def ddl_columns(ddl: str) -> list[tuple[str, str]]:
    """``[(name, type)]`` of a flat DDL string (no STRUCT/MAP types, so no
    comma inside a type)."""
    return [tuple(c.strip().split(" ", 1)) for c in ddl.split(",")]


def _footer_columns(path: str) -> set[str]:
    """Column names of one parquet file under ``path`` (the file itself,
    or the first part file of a directory), read from its footer on the
    driver."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    fs, root = pafs.FileSystem.from_uri(
        path if "://" in path else os.path.abspath(path))
    f = root
    if fs.get_file_info(root).type == pafs.FileType.Directory:
        parts = sorted(
            i.path for i in fs.get_file_info(pafs.FileSelector(root))
            if i.is_file and i.base_name.endswith(".parquet")
            and not i.base_name.startswith(("_", "."))
        )
        if not parts:
            raise ValueError(f"no parquet file under {path}")
        f = parts[0]
    with fs.open_input_file(f) as fh:
        return set(pq.read_schema(fh).names)


def read_parquet(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """``spark.read.schema(schema).parquet(path)``: no schema-inference
    job. A declared column that the file lacks would read as NULL without
    error, so the footer of one file is checked first (on the driver, no
    Spark job) and a missing column raises ValueError. A column of another
    type fails at execution (PARQUET_COLUMN_DATA_TYPE_MISMATCH)."""
    present = _footer_columns(path)
    missing = [c for c, _ in ddl_columns(schema) if c not in present]
    if missing:
        raise ValueError(f"{path} lacks declared column(s) {missing}")
    return spark.read.schema(schema).parquet(path)


@dataclass
class CorpusTables:
    """Lazy handles to every corpus input table.

    Each handle reads with its declared schema (``CORPUS_SCHEMAS``), so
    building one starts no Spark job; a schema-less ``spark.read.parquet``
    would run a one-task inference job per read. Handles are still
    memoized per table name: ``pipeline.build`` touches several tables
    many times, and one DataFrame handle per table is what Catalyst wants
    (identical scan nodes share analysis)."""

    spark: SparkSession
    root: str
    catalog: str | None = None  # e.g. "iceberg_cat.mwep" when Iceberg is up

    def table(self, name: str) -> DataFrame:
        cache = self.__dict__.setdefault("_handles", {})
        if name not in cache:
            if self.catalog:
                cache[name] = self.spark.read.table(f"{self.catalog}.{name}")
            else:
                cache[name] = read_parquet(
                    self.spark, f"{self.root}/{name}.parquet",
                    CORPUS_SCHEMAS[name],
                )
        return cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return self.table(name)
        raise AttributeError(name)
