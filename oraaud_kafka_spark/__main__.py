"""Daemon entry point — the reference's ``main`` re-expressed
(OraaudKafka.java:133-276):

    python -m oraaud_kafka_spark <path-to-conf> [--checkpoint DIR] [--once]

Loads the ``a2.*`` properties file, validates it with the reference's
exit codes (2 = usage, 3 = config/broker, 4 = watched path), builds the
SparkSession, starts the streaming pipeline, and blocks on
awaitTermination — the analog of the reference's main thread parking in
its watch loop. ``--once`` runs a single availableNow pass (drain the
backlog and exit 0), the batch/backfill mode the reference lacks.
"""

from __future__ import annotations

import sys

EXIT_USAGE = 2
EXIT_CONFIG = 3
EXIT_WATCHED_PATH = 4


def _parse(argv: list[str]) -> tuple[str, str | None, bool] | None:
    """(conf, checkpoint, once), or None when argv is not a valid
    command line: an unknown flag, ``--checkpoint`` without a value, or
    other than one configuration file."""
    args, checkpoint, once = [], None, False
    rest = iter(argv)
    for a in rest:
        if a == "--once":
            once = True
        elif a == "--checkpoint":
            checkpoint = next(rest, None)
            if checkpoint is None or checkpoint.startswith("--"):
                return None
        elif a.startswith("--"):
            return None
        else:
            args.append(a)
    return (args[0], checkpoint, once) if len(args) == 1 else None


def main(argv: list[str]) -> int:
    parsed = _parse(argv)
    if parsed is None:
        print(
            "Usage: python -m oraaud_kafka_spark <configuration file> "
            "[--checkpoint DIR] [--once]",
            file=sys.stderr,
        )
        return EXIT_USAGE
    conf, checkpoint, once = parsed

    from .config import ConfigError, load_config

    try:
        cfg = load_config(conf)
    except ConfigError as e:
        msg = str(e)
        print(f"FATAL: {msg}\nExiting.", file=sys.stderr)
        return EXIT_WATCHED_PATH if "watched.path" in msg else EXIT_CONFIG
    except OSError as e:
        print(f"FATAL: cannot read configuration: {e}\nExiting.", file=sys.stderr)
        return EXIT_CONFIG

    from .session import get_spark
    from .streaming.ingest import IngestMetrics, run_from_config

    spark = get_spark(app_name="oraaud-kafka-spark-daemon")
    metrics = IngestMetrics()
    spark.streams.addListener(metrics)
    query = run_from_config(
        spark,
        cfg,
        checkpoint_dir=checkpoint or f"{cfg.watched_path.rstrip('/')}/.checkpoint",
        available_now=once,
    )
    try:
        query.awaitTermination()
    except KeyboardInterrupt:
        # the reference's shutdown hook: flush and stop (R-19)
        query.stop()
    finally:
        print(
            f"files={metrics.files} bytes={metrics.bytes} "
            f"batches={metrics.batches} phase_ms={metrics.phase_ms}",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
