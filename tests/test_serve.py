"""Single-payload serving path (ocr_spark/serve.py): envelope parity with
the batch kernel, per-request failure isolation, CLI harness."""

import json
import subprocess
import sys

import pandas as pd

from ocr_spark.extract import extract_frame
from ocr_spark.serve import serve_one


def test_serve_matches_batch_kernel():
    text = (
        '<nav><a href="/x">Nav</a></nav><p>Real content with several '
        "meaningful words in this block of text.</p>"
        '<footer>Copyright <a href="/t">T</a></footer>'
    )
    env = serve_one(text)
    batch = extract_frame(
        pd.DataFrame({"conv_id": ["c"], "turn_idx": [0], "text": [text]})
    ).iloc[0]
    assert env["success"] is True
    assert env["extracted_text"] == batch["extracted_text"]
    assert env["status"] == batch["status"]
    assert env["n_blocks_kept"] == batch["n_blocks_kept"]
    assert [
        (s["start"], s["end"], s["position"]) for s in env["spans"]
    ] == [(s["start"], s["end"], s["position"]) for s in batch["spans"]]


def test_serve_error_isolation():
    env = serve_one(None)
    assert env == {
        "success": False,
        "error": "payload could not be processed",
        "status": "error",
    }
    assert serve_one(12345)["success"] is False


def test_serve_empty_outcome_not_error():
    # all-markup payload -> explicit empty outcome (G25), not an error
    env = serve_one('<nav><a href="/a">A</a> <a href="/b">B</a></nav>')
    assert env["success"] is True
    assert env["status"] == "empty"
    assert env["extracted_text"] == ""


def test_serve_cli():
    res = subprocess.run(
        [sys.executable, "-m", "ocr_spark.serve", "-"],
        input="Plain text with enough meaningful words to keep as content.",
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    out = json.loads(res.stdout)
    assert out["success"] is True and out["status"] == "ok"


def test_serve_http_endpoint():
    """HTTP harness parity (reference api.py route shape): POST a raw
    payload -> the serve_one envelope; junk/unknown routes -> a JSON
    failure envelope with HTTP 200, never an HTTP error (api.py
    returns jsonify'd errors)."""
    import threading
    import urllib.request

    from ocr_spark.serve import make_http_server

    srv = make_http_server(0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        def post(path, body):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}", data=body, method="POST"
            )
            with urllib.request.urlopen(req, timeout=10) as resp:
                assert resp.status == 200
                return json.loads(resp.read())

        payload = "Intro sentence with enough words to keep. " * 4
        got = post("/api/extract", payload.encode())
        assert got["success"] is True
        assert got["extracted_text"] == serve_one(payload)["extracted_text"]

        bad = post("/api/extract", b"\x00\x01\x02")
        assert bad["success"] in (True, False)  # envelope, not a crash

        unk = post("/api/nope", b"x")
        assert unk == {"success": False, "error": "unknown route"}
    finally:
        srv.shutdown()
        srv.server_close()


def test_serve_http_rejects_oversized_body():
    """A Content-Length above the reference's 16 MB upload cap gets the
    JSON failure envelope without the body being read; the server keeps
    serving."""
    import http.client
    import threading

    from ocr_spark.serve import MAX_BODY_BYTES, make_http_server

    srv = make_http_server(0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        conn.putrequest("POST", "/api/extract")
        conn.putheader("Content-Length", str(MAX_BODY_BYTES + 1))
        conn.endheaders()  # no body sent: the reply must not wait for it
        resp = conn.getresponse()
        assert resp.status == 200
        got = json.loads(resp.read())
        conn.close()
        assert got["success"] is False
        assert str(MAX_BODY_BYTES) in got["error"]

        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        conn.request("POST", "/api/extract", body=b"Some words. " * 8)
        ok = json.loads(conn.getresponse().read())
        conn.close()
        assert ok["success"] is True
    finally:
        srv.shutdown()
        srv.server_close()


def test_serve_http_rejects_negative_content_length():
    """A negative Content-Length gets the same JSON failure envelope as an
    oversized one: reading it would take the body up to EOF, past the
    16 MB cap.  The client half-closes after its headers, so a server
    that reads to EOF answers with a success envelope instead."""
    import socket
    import threading

    from ocr_spark.serve import MAX_BODY_BYTES, make_http_server

    srv = make_http_server(0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
            s.sendall(
                b"POST /api/extract HTTP/1.1\r\nHost: localhost\r\n"
                b"Content-Length: -1\r\n\r\n"
            )
            s.shutdown(socket.SHUT_WR)
            chunks = []
            while chunk := s.recv(65536):
                chunks.append(chunk)
        head, _, body = b"".join(chunks).partition(b"\r\n\r\n")
        assert head.split()[1] == b"200"
        got = json.loads(body)
        assert got["success"] is False
        assert str(MAX_BODY_BYTES) in got["error"]
    finally:
        srv.shutdown()
        srv.server_close()


def _start(srv):
    import threading

    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return t


def _read_reply(sock) -> dict:
    """Read one HTTP reply to EOF; returns its JSON body."""
    chunks = []
    while chunk := sock.recv(65536):
        chunks.append(chunk)
    head, _, body = b"".join(chunks).partition(b"\r\n\r\n")
    assert head.split()[1] == b"200"
    return json.loads(body)


def _request(body: bytes) -> bytes:
    return (
        b"POST /api/extract HTTP/1.0\r\nHost: localhost\r\n"
        + f"Content-Length: {len(body)}\r\n\r\n".encode()
        + body
    )


def test_serve_import_skips_pandas():
    """The serving path needs no pandas (only extract_frame does), so
    importing it leaves pandas unloaded: a faster start and a smaller
    server."""
    import os

    res = subprocess.run(
        [sys.executable, "-c",
         "import sys, ocr_spark.serve; print('pandas' in sys.modules)"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "False"


def test_serve_http_bounds_a_stalled_body():
    """One thread serves every request, so a client that announces a body
    and stalls must lose the connection after a bounded read wait, with
    the JSON failure envelope; the next connection is then served."""
    import socket
    import time

    from ocr_spark.serve import make_http_server

    srv = make_http_server(0)
    timeout = srv.RequestHandlerClass.timeout
    assert timeout is not None and 0 < timeout <= 30
    srv.RequestHandlerClass.timeout = 0.5
    port = srv.server_address[1]
    _start(srv)
    try:
        with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
            t0 = time.monotonic()
            s.sendall(
                b"POST /api/extract HTTP/1.1\r\nHost: localhost\r\n"
                b"Content-Length: 100\r\n\r\nabc"
            )
            got = _read_reply(s)
            assert time.monotonic() - t0 < 5
        assert got["success"] is False

        with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
            s.sendall(_request(b"Some words. " * 8))
            assert _read_reply(s)["success"] is True
    finally:
        srv.shutdown()
        srv.server_close()


def test_serve_http_burst_fits_accept_queue():
    """32 connects made before the server accepts any all complete (the
    accept backlog holds them, no SYN is dropped), and each is then served."""
    import socket

    from ocr_spark.serve import make_http_server

    srv = make_http_server(0)
    port = srv.server_address[1]
    socks, serving = [], None
    try:
        for _ in range(32):
            socks.append(socket.create_connection(("127.0.0.1", port), timeout=0.5))
        serving = _start(srv)
        payload = b"Plain text with enough meaningful words to keep as content."
        for s in socks:
            s.settimeout(10)
            s.sendall(_request(payload))
        for s in socks:
            got = _read_reply(s)
            assert got["success"] is True and got["status"] == "ok"
    finally:
        for s in socks:
            s.close()
        if serving is not None:  # shutdown() waits for a serve_forever
            srv.shutdown()
        srv.server_close()
