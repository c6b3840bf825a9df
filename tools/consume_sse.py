"""SSE consumer — stdlib twin of the reference's consumer_example.py
(/root/reference/consumer_example.py:1-15, which needs sseclient+ujson;
neither is required here).

Usage: python tools/consume_sse.py [url] [--max N]

Connects to a running `python -m reddit_sse_stream_spark serve` endpoint,
parses the ``id:/event:/data:`` frames, and prints one JSON object per
event, exactly like the reference consumer's ``process_message``.
"""

from __future__ import annotations

import argparse
import json
import urllib.request


def iter_events(url: str):
    """Yield (id, event, data) tuples from an SSE endpoint (blocking)."""
    with urllib.request.urlopen(url) as resp:
        fields: dict[str, str] = {}
        for raw in resp:
            line = raw.decode("utf-8").rstrip("\n")
            if line == "":
                if "data" in fields:
                    yield fields.get("id"), fields.get("event"), fields["data"]
                fields = {}
            elif ":" in line:
                k, v = line.split(":", 1)
                fields[k.strip()] = v.lstrip()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Print the events of an SSE endpoint.")
    p.add_argument("url", nargs="?", default="http://127.0.0.1:8765/")
    p.add_argument("--max", type=int, metavar="N", help="stop after N events")
    args = p.parse_args(argv)
    n = 0
    for event_id, event, data in iter_events(args.url):
        try:
            payload = json.loads(data)
        except json.JSONDecodeError:
            payload = data
        print({"id": event_id, "event": event, "data": payload})
        n += 1
        if args.max is not None and n >= args.max:
            break
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
