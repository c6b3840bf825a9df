"""HTTP SSE serving layer — the engine-facing replacement for the
reference's Flask app (/root/reference/sse.py:40-52,252) on the stdlib only.

Faithful API surface:

- ``GET /`` with the reference's query params (type, author, subreddit,
  domain, over_18, is_self, filter, *_backfill, *_start_id). Repeated
  params keep list semantics (``?author=a&author=b``), validation errors
  map to HTTP 400 exactly like sse.py:49-78 (V1-V3).
- Response is ``text/event-stream``; frames come from the shared
  :class:`~reddit_sse_stream_spark.streaming.sink.SSEBroadcaster` — ONE
  Spark streaming query feeds every connection (the reference opens a new
  Redis connection + full scan per client, sse.py:82-83).
- The reference's ``GET /test`` page points at a route that doesn't exist
  (doc/code drift noted in SURVEY §3); we serve a working equivalent.

gzip/conn-limits stay at the proxy layer (nginx), as in the reference.

Delivery is pushed, not polled: each connection blocks on the
broadcaster's condition until its client has new frames, then writes all of
them as one chunk.  ``perfbench/run.py``'s ``live_ref`` workload measures
this path end to end, out of process: raw-socket clients at the reference's
120 events/s against ``serve``'s shipped settings.
"""

from __future__ import annotations

import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from reddit_sse_stream_spark.spec import QuerySpec, SpecError
from reddit_sse_stream_spark.streaming.sink import SSEBroadcaster

# Every frame is a named event (sink.format_frame), and EventSource hands
# named events only to listeners registered for that name, never onmessage.
_TEST_PAGE = b"""<html><body><script>
var evtSource = new EventSource('/');
function log(e) { console.log(e.type, e.data); }
evtSource.addEventListener('rc', log);
evtSource.addEventListener('rs', log);
evtSource.addEventListener('keepalive', log);
</script>SSE test page</body></html>"""


class SSEServer:
    """Threaded HTTP server bridging clients to an :class:`SSEBroadcaster`."""

    def __init__(self, broadcaster: SSEBroadcaster, host: str = "127.0.0.1", port: int = 0):
        self.broadcaster = broadcaster
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *args):  # quiet test output
                pass

            def do_GET(self):
                parsed = urlparse(self.path)
                if parsed.path == "/test":
                    self.send_response(200)
                    self.send_header("Content-Type", "text/html")
                    self.send_header("Content-Length", str(len(_TEST_PAGE)))
                    self.end_headers()
                    self.wfile.write(_TEST_PAGE)
                    return
                params = parse_qs(parsed.query, keep_blank_values=True)
                try:
                    spec = QuerySpec.from_params(params)
                except SpecError as exc:  # V1-V3 -> 400 (sse.py:49-78)
                    body = str(exc).encode()
                    self.send_response(400)
                    self.send_header("Content-Type", "text/plain")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                client_id = uuid.uuid4().hex
                server.broadcaster.register(client_id, spec)
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.send_header("Transfer-Encoding", "chunked")
                self.end_headers()
                cursor = 0
                try:
                    while server.broadcaster.wait(client_id, cursor, server._closing.is_set):
                        # the cursor read acks (drops) what was written
                        # before, so a connection holds O(undelivered)
                        cursor, frames = server.broadcaster.frames_since(
                            client_id, cursor
                        )
                        data = "".join(frames).encode()
                        self.wfile.write(b"%x\r\n%s\r\n" % (len(data), data))
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError):
                    pass
                finally:
                    server.broadcaster.unregister(client_id)
                    self.close_connection = True

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._closing = threading.Event()
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "SSEServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._closing.set()
        self.broadcaster.wake()
        self._httpd.shutdown()
        self._httpd.server_close()
