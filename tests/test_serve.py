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
