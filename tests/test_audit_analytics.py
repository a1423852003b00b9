"""End-to-end reference-shaped story: audit XML corpus -> ingest ->
typed parse (§1.2 schema) -> audit analytics (failed logins, top
statements, per-session activity) — the workload the reference's
downstream consumers run on the Kafka topic, executed here directly on
the engine."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from oraaud_kafka_spark.sources.audit_xml import complete_only, read_audit_batch
from oraaud_kafka_spark.streaming.audit_parse import parse_audit_records

RECORD = """ <AuditRecord>
  <Audit_Type>1</Audit_Type>
  <Session_Id>{sid}</Session_Id>
  <EntryId>{eid}</EntryId>
  <Extended_Timestamp>2024-05-04T13:{minute:02d}:15.000Z</Extended_Timestamp>
  <DB_User>{user}</DB_User>
  <OS_User>oracle</OS_User>
  <Userhost>apphost{host}</Userhost>
  <Action>{action}</Action>
  <Returncode>{rc}</Returncode>
  <Scn>{scn}</Scn>
  <Sql_Text>{sql}</Sql_Text>
 </AuditRecord>"""


@pytest.fixture(scope="module")
def audit_events(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adump")
    # 10 files x 6 records; deterministic mix of users/actions/returncodes
    for f in range(10):
        recs = []
        for r in range(6):
            i = f * 6 + r
            recs.append(
                RECORD.format(
                    sid=100 + i % 4,
                    eid=i,
                    minute=i % 60,
                    user=["SCOTT", "HR", "SYS"][i % 3],
                    host=i % 2,
                    action=[100, 101, 103][i % 3],  # logon / logoff / select
                    rc=0 if i % 5 else 1017,  # every 5th fails (bad password)
                    scn=8_000_000 + i,
                    sql=f"select c{i} from t{i % 4}",
                )
            )
        doc = '<?xml version="1.0"?>\n<Audit>\n' + "\n".join(recs) + "\n</Audit>"
        (d / f"orcl_ora_{9000 + f}_{f:04d}.xml").write_text(doc)
    raw = complete_only(read_audit_batch(spark, str(d), hostname="e2e"))
    return parse_audit_records(raw).cache()


def test_parse_volume_and_schema(audit_events):
    assert audit_events.count() == 60
    # typed columns present and non-null where the corpus set them
    row = audit_events.orderBy("entry_id").first()
    assert row.session_id == 100 and row.returncode == 1017
    assert row.event_ts is not None
    assert row.src_pid == "9000"


def test_failed_logins_by_user(audit_events):
    failed = (
        audit_events.filter(F.col("returncode") != 0)
        .groupBy("db_user")
        .agg(F.count("*").alias("n_failed"))
        .orderBy("db_user")
        .collect()
    )
    # every 5th of 60 records fails: entry ids 0,5,..,55 -> users i%3
    expect = {"SCOTT": 4, "HR": 4, "SYS": 4}
    assert {r.db_user: r.n_failed for r in failed} == expect


def test_top_statements(audit_events):
    top = (
        audit_events.groupBy(F.regexp_extract("sql_text", r"from (t\d+)", 1).alias("tbl"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tbl")
        .collect()
    )
    assert [r.tbl for r in top] == ["t0", "t1", "t2", "t3"]
    assert sum(r.n for r in top) == 60


def test_session_activity_windows(audit_events):
    per_session = (
        audit_events.groupBy("session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_ts").alias("first_ts"),
            F.max("event_ts").alias("last_ts"),
        )
        .orderBy("session_id")
        .collect()
    )
    assert [r.session_id for r in per_session] == [100, 101, 102, 103]
    assert all(r.n_events == 15 for r in per_session)
    assert all(r.last_ts >= r.first_ts for r in per_session)


def test_enrich_with_dimension(spark, audit_events):
    """Stream-static shape in batch: audit events x a user dimension."""
    dim = spark.createDataFrame(
        [("SCOTT", "app"), ("HR", "humans"), ("SYS", "dba")], "db_user string, team string"
    )
    per_team = (
        audit_events.join(F.broadcast(dim), "db_user")
        .groupBy("team")
        .agg(F.count_distinct("session_id").alias("n_sessions"))
        .orderBy("team")
        .collect()
    )
    assert {r.team: r.n_sessions for r in per_team} == {
        "app": 4,
        "humans": 4,
        "dba": 4,
    }


def test_parse_keeps_text_verbatim_and_nulls_absent_or_empty(spark, tmp_path):
    """parse_audit_records on sparse and empty-element records: absent
    and empty elements give NULL for strings and numerics alike, while
    element text keeps its surrounding whitespace (Oracle's bind values
    start with a space)."""
    from oraaud_kafka_spark.sources.audit_xml import (
        complete_only,
        read_audit_batch,
    )

    d = tmp_path / "adump"
    d.mkdir()
    recs = [
        RECORD.format(sid=1, eid=0, minute=5, user="SCOTT", host=0,
                      action=100, rc=0, scn=1, sql="select 1"),
        # sparse record: most elements absent
        " <AuditRecord>\n  <DB_User>HR</DB_User>\n  <EntryId>1</EntryId>\n"
        " </AuditRecord>",
        # empty (present-but-valueless) elements
        (" <AuditRecord>\n  <DB_User></DB_User>\n  <OS_User/>\n"
         "  <Action></Action>\n  <EntryId>7</EntryId>\n </AuditRecord>"),
        # leading-space bind value and a whitespace-only user
        (" <AuditRecord>\n  <DB_User>  </DB_User>\n  <EntryId>9</EntryId>\n"
         "  <Sql_Bind> #1(6):100001</Sql_Bind>\n </AuditRecord>"),
    ]
    doc = '<?xml version="1.0"?>\n<Audit>\n' + "\n".join(recs) + "\n</Audit>"
    (d / "orcl_ora_1234_0001.xml").write_text(doc)
    raw = complete_only(read_audit_batch(spark, str(d), hostname="h"))
    rows = {r.entry_id: r for r in parse_audit_records(raw).collect()}
    assert sorted(rows) == [0, 1, 7, 9]

    full = rows[0]
    assert (full.session_id, full.db_user, full.action, full.sql_text) == (
        1, "SCOTT", 100, "select 1"
    )
    assert str(full.event_ts).startswith("2024-05-04")
    assert full.sql_binds is None and full.terminal is None

    sparse = rows[1]
    assert sparse.db_user == "HR"
    assert sparse.session_id is None and sparse.action is None
    assert sparse.os_user is None and sparse.event_ts is None

    empty = rows[7]
    assert empty.db_user is None and empty.os_user is None
    assert empty.action is None

    spaced = rows[9]
    assert spaced.sql_binds == " #1(6):100001"
    assert spaced.db_user == "  "
