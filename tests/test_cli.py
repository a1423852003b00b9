"""CLI daemon entry (exit-code parity with the reference's main)."""

from __future__ import annotations

from oraaud_kafka_spark.__main__ import (
    EXIT_CONFIG,
    EXIT_USAGE,
    EXIT_WATCHED_PATH,
    _parse,
    main,
)


def test_usage_exit_code():
    assert main([]) == EXIT_USAGE
    assert main(["a.conf", "b.conf"]) == EXIT_USAGE
    assert main(["a.conf", "--onec"]) == EXIT_USAGE
    assert main(["a.conf", "--checkpoint"]) == EXIT_USAGE
    assert main(["a.conf", "--checkpoint", "--once"]) == EXIT_USAGE


def test_command_line_flags_parse_in_any_order():
    assert _parse(["a.conf"]) == ("a.conf", None, False)
    assert _parse(["--once", "a.conf", "--checkpoint", "ck"]) == ("a.conf", "ck", True)


def test_bad_broker_exit_code(tmp_path):
    conf = tmp_path / "c.conf"
    conf.write_text(
        f"a2.watched.path = {tmp_path}\na2.target.broker = rabbitmq\n"
    )
    assert main([str(conf)]) == EXIT_CONFIG


def test_missing_watched_path_exit_code(tmp_path):
    conf = tmp_path / "c.conf"
    conf.write_text("a2.kafka.servers = b:9092\n")
    assert main([str(conf)]) == EXIT_WATCHED_PATH


def test_watched_path_not_dir_exit_code(tmp_path):
    f = tmp_path / "somefile"
    f.write_text("x")
    conf = tmp_path / "c.conf"
    conf.write_text(f"a2.watched.path = {f}\n")
    assert main([str(conf)]) == EXIT_WATCHED_PATH
