"""Serve a directory through the program's S3LoopbackServer in a process
of its own, so that its handler threads do not share an interpreter lock
with the engine's Py4J threads. Prints the port on the first line of
standard output and serves until terminated.

    python3 perfbench/objserver.py <root>
"""

from __future__ import annotations

import signal
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ocs_duckdb_runner_spark.sources.s3_loopback_server import (  # noqa: E402
    S3LoopbackServer,
)


def main() -> int:
    stop = {signal.SIGTERM, signal.SIGINT}
    signal.pthread_sigmask(signal.SIG_BLOCK, stop)
    server = S3LoopbackServer(sys.argv[1]).start()
    print(server.port, flush=True)
    signal.sigwait(stop)
    server.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
