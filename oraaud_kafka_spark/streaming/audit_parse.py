"""Oracle audit XML -> typed audit_events rows (SURVEY.md §1.2).

The reference ships files opaque and leaves parsing to consumers
(README.md:30 mandates audit_trail=XML,EXTENDED so the payload shape is
fixed by Oracle's public dbserver_audittrail XSD). The engine's analytic
layer parses: one <Audit> document with repeated <AuditRecord> children
explodes to one row per record, carrying the ingest provenance columns
(src_host/src_file/src_pid — the data the reference encodes into its
Kafka key, KafkaJob.java:47).

Implementation: each <AuditRecord> chunk is regex-extracted and parsed
once by Spark 4's native ``from_xml`` against an explicit per-record
schema (one JVM expression per record), then every field is cast to its
type. Element text is kept verbatim: Oracle writes bind values as
``" #1(6):…"``, and the leading space is part of the value.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# field name -> (XML element, spark type)
AUDIT_FIELDS: dict[str, tuple[str, str]] = {
    "audit_type": ("Audit_Type", "int"),
    "session_id": ("Session_Id", "long"),
    "statement_id": ("StatementId", "long"),
    "entry_id": ("EntryId", "long"),
    "event_ts": ("Extended_Timestamp", "timestamp"),
    "db_user": ("DB_User", "string"),
    "os_user": ("OS_User", "string"),
    "userhost": ("Userhost", "string"),
    "os_process": ("OS_Process", "string"),
    "terminal": ("Terminal", "string"),
    "instance_number": ("Instance_Number", "int"),
    "object_schema": ("Object_Schema", "string"),
    "object_name": ("Object_Name", "string"),
    "action": ("Action", "int"),
    "returncode": ("Returncode", "int"),
    "scn": ("Scn", "long"),
    "dbid": ("DBID", "long"),
    "sql_text": ("Sql_Text", "string"),
    "sql_binds": ("Sql_Bind", "string"),
}


# One <AuditRecord>...</AuditRecord> chunk per row; (?s) tolerates any
# residual newlines (ingest has already newline-stripped).
_RECORD_RE = r"(?s)<AuditRecord[^>]*>.*?</AuditRecord>"

# Every field reads as STRING first: from_xml yields '' for an empty
# (present-but-valueless) element and NULL for an absent one; one
# nullif-then-cast on EVERY field lands both on NULL, for strings and
# numerics alike.
_XML_SCHEMA = ", ".join(
    f"{leaf} string" for leaf, _ in AUDIT_FIELDS.values()
)


def parse_audit_records(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Explode whole-file audit documents into one typed row per
    <AuditRecord>, preserving all other (provenance) columns.

    Absent and empty elements yield NULL; other element text is kept
    verbatim, surrounding whitespace included."""
    records = F.regexp_extract_all(value_col, F.lit(_RECORD_RE), 0)
    passthrough = [c for c in df.columns if c != value_col]
    exploded = df.select(*passthrough, F.explode(records).alias("_rec"))
    # from_xml trims element text by default, which would strip the
    # leading space of Oracle's " #1(6):…" bind values
    parsed = exploded.withColumn(
        "_p",
        F.from_xml("_rec", _XML_SCHEMA, {"ignoreSurroundingSpaces": "false"}),
    )
    typed = [
        F.nullif(F.col(f"_p.{leaf}"), F.lit("")).cast(dtype).alias(name)
        for name, (leaf, dtype) in AUDIT_FIELDS.items()
    ]
    return parsed.select(*passthrough, *typed)
