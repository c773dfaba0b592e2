"""Open-loop SSE generator for the ``scanner_stream`` workload.

Serves the seeded events of ``events.make_stream(seed, n)`` as a
text/event-stream on an ephemeral loopback port.  Event ``i`` is due
at ``t0 + i / rate``, where ``t0`` is the first connection; it is sent
at its due time whether or not the consumer keeps up (open loop), and
its frame carries the due time (``"due"``, epoch seconds).  A
reconnect with ``Last-Event-ID: k`` resumes at event ``k + 1``.

Usage: python3 sse_gen.py --seed S --events N --rate R --state DIR

Writes ``DIR/port`` once listening, ``DIR/t0`` at the first connection
and ``DIR/gen.json`` (t0, events sent, lateness, connections) on
SIGTERM.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from events import make_stream  # noqa: E402


def _write(path: str, text: str) -> None:
    with open(path + ".tmp", "w") as f:
        f.write(text)
    os.replace(path + ".tmp", path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--state", required=True)
    a = ap.parse_args()

    events, _, _ = make_stream(a.seed, a.events)
    payloads = [json.dumps(e, separators=(",", ":")) for e in events]
    lock = threading.Lock()
    st = {"t0": None, "sent": 0, "late": [], "connections": 0}

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.0"

        def log_message(self, *args) -> None:  # quiet
            pass

        def do_GET(self) -> None:
            last = self.headers.get("Last-Event-ID")
            start = int(last) + 1 if last and last.isdigit() else 0
            with lock:
                st["connections"] += 1
                if st["t0"] is None:
                    st["t0"] = time.time()
                    _write(os.path.join(a.state, "t0"), repr(st["t0"]))
                t0 = st["t0"]
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.end_headers()
            try:
                for i in range(start, len(payloads)):
                    due = t0 + i / a.rate
                    wait = due - time.time()
                    if wait > 0:
                        time.sleep(wait)
                    frame = f'id: {i}\ndata: {payloads[i][:-1]},"due":{due:.6f}}}\n\n'
                    self.wfile.write(frame.encode())
                    self.wfile.flush()
                    with lock:
                        if i >= st["sent"]:  # first send only, not a replay
                            st["sent"] = i + 1
                            st["late"].append(time.time() - due)
                while True:
                    # Once drained, keep bytes flowing as a live feed
                    # does: the client reads in 512-byte chunks, so a
                    # silent connection would hold back the last events.
                    self.wfile.write(b":" + b" " * 600 + b"\n\n")
                    self.wfile.flush()
                    time.sleep(0.5)
            except (BrokenPipeError, ConnectionResetError):
                pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True

    def stop(*_args) -> None:
        with lock:
            late = sorted(st["late"])
            out = {
                "t0": st["t0"],
                "sent": st["sent"],
                "connections": st["connections"],
                "late_p99_s": late[int(0.99 * (len(late) - 1))] if late else 0.0,
            }
        with open(os.path.join(a.state, "gen.json"), "w") as f:
            json.dump(out, f)
        os._exit(0)

    signal.signal(signal.SIGTERM, stop)
    _write(os.path.join(a.state, "port"), str(server.server_address[1]))
    server.serve_forever()


if __name__ == "__main__":
    main()
