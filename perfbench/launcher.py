"""Run ``lynx_spark.server.main`` unchanged, optionally traced.

    python3 perfbench/launcher.py [--trace-out FILE] -- <server args>

With ``--trace-out`` the launcher wraps the public functions of the
program's modules (see ``tracing.py``) before the server starts; SIGUSR2
marks the start of the timed window and SIGUSR1 writes the recorded
spans to FILE. Without it the server runs exactly as
``python -m lynx_spark.server`` would.
"""

from __future__ import annotations

import signal
import sys


def main() -> None:
    argv = sys.argv[1:]
    split = argv.index("--")
    own, server_args = argv[:split], argv[split + 1:]
    trace_out = own[own.index("--trace-out") + 1] if "--trace-out" in own else None

    import lynx_spark.server as server

    if trace_out is not None:
        import tracing

        tracer = tracing.install_server()
        signal.signal(signal.SIGUSR1, lambda *_: tracer.dump(trace_out))
        signal.signal(signal.SIGUSR2, lambda *_: tracer.start_window())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    sys.argv = ["lynx_spark.server"] + server_args
    server.main()


if __name__ == "__main__":
    main()
