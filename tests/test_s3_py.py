"""Pure-Python S3 fallback (A7): SigV4 + ListObjectsV2 + GetObject
verified against an in-process S3-compatible HTTP server that
INDEPENDENTLY re-derives the signature from the incoming request (the
documented algorithm re-implemented request-side), paginates listings,
and serves real bytes — then the registry e2e: a configured s3://
source loads with no hadoop-aws jar via local staging.
"""

from __future__ import annotations

import hashlib
import hmac
import http.server
import threading
from urllib.parse import parse_qsl, quote, urlparse

import pytest

from datafusion_server_spark.sources import s3_py

ACCESS, SECRET, REGION = "AKTEST", "testsecret", "eu-test-1"
BUCKET = "graftbucket"


def _derive_signature(req, secret: str) -> str | None:
    """Request-side SigV4 derivation (AWS docs, 'Signature Version 4
    signing process') — independent of the client implementation."""
    auth = req.headers.get("Authorization", "")
    if not auth.startswith("AWS4-HMAC-SHA256 "):
        return None
    parts = dict(
        p.strip().split("=", 1) for p in auth[len("AWS4-HMAC-SHA256 "):].split(",")
    )
    signed_headers = parts["SignedHeaders"].split(";")
    scope = parts["Credential"].split("/", 1)[1]  # date/region/s3/aws4_request
    datestamp, region, service, _ = scope.split("/")
    u = urlparse(req.path)
    canonical_query = "&".join(
        f"{quote(k, safe='-._~')}={quote(v, safe='-._~')}"
        for k, v in sorted(parse_qsl(u.query, keep_blank_values=True))
    )
    canonical_headers = "".join(
        f"{h}:{req.headers.get('Host') if h == 'host' else req.headers[h]}\n"
        for h in signed_headers
    )
    canonical_request = "\n".join(
        ["GET", quote(u.path, safe="-._~/"), canonical_query, canonical_headers,
         ";".join(signed_headers), req.headers["x-amz-content-sha256"]]
    )
    sts = "\n".join(
        ["AWS4-HMAC-SHA256", req.headers["x-amz-date"], scope,
         hashlib.sha256(canonical_request.encode()).hexdigest()]
    )
    key = f"AWS4{secret}".encode()
    for step in (datestamp, region, service, "aws4_request"):
        key = hmac.new(key, step.encode(), hashlib.sha256).digest()
    return hmac.new(key, sts.encode(), hashlib.sha256).hexdigest()


class _S3Handler(http.server.BaseHTTPRequestHandler):
    def log_message(self, *a):  # quiet
        pass

    def _reply(self, code: int, body: bytes, ctype: str = "application/xml"):
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        want = _derive_signature(self, SECRET)
        got = None
        auth = self.headers.get("Authorization", "")
        if "Signature=" in auth:
            got = auth.rsplit("Signature=", 1)[1]
        if want is None or got != want or f"Credential={ACCESS}/" not in auth:
            self._reply(403, b"<Error><Code>SignatureDoesNotMatch</Code></Error>")
            return
        u = urlparse(self.path)
        segs = u.path.lstrip("/").split("/", 1)
        if segs[0] != BUCKET:
            self._reply(404, b"<Error><Code>NoSuchBucket</Code></Error>")
            return
        query = dict(parse_qsl(u.query, keep_blank_values=True))
        objects = self.server.objects  # type: ignore[attr-defined]
        if query.get("list-type") == "2":
            prefix = query.get("prefix", "")
            keys = sorted(k for k in objects if k.startswith(prefix))
            start = 0
            token = query.get("continuation-token")
            if token:
                start = int(token)
            page = keys[start : start + 1]  # 1 key/page -> exercises pagination
            truncated = start + 1 < len(keys)
            xml = ["<?xml version='1.0'?><ListBucketResult>"]
            xml.append(f"<IsTruncated>{'true' if truncated else 'false'}</IsTruncated>")
            if truncated:
                xml.append(f"<NextContinuationToken>{start + 1}</NextContinuationToken>")
            for k in page:
                xml.append(
                    f"<Contents><Key>{k}</Key><Size>{len(objects[k])}</Size></Contents>"
                )
            xml.append("</ListBucketResult>")
            self._reply(200, "".join(xml).encode())
            return
        key = segs[1] if len(segs) > 1 else ""
        if key in objects:
            self._reply(200, objects[key], "application/octet-stream")
        else:
            self._reply(404, b"<Error><Code>NoSuchKey</Code></Error>")


@pytest.fixture()
def s3_server():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _S3Handler)
    srv.objects = {
        "data/part-0.csv": b"id,name\n1,alice\n",
        "data/part-1.csv": b"id,name\n2,bob\n",
        "data/part-2.csv": b"id,name\n3,carol\n",
        "raw/blob.bin": bytes(range(64)),
    }
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield srv
    srv.shutdown()
    srv.server_close()


def _cfg(srv) -> s3_py.S3Config:
    return s3_py.S3Config(
        access_key=ACCESS,
        secret_key=SECRET,
        endpoint=f"http://127.0.0.1:{srv.server_address[1]}",
        region=REGION,
        path_style=True,
    )


def test_list_pagination_and_get(s3_server):
    cfg = _cfg(s3_server)
    objs = s3_py.list_objects(cfg, BUCKET, "data/")
    assert [k for k, _ in objs] == ["data/part-0.csv", "data/part-1.csv", "data/part-2.csv"]
    assert s3_py.get_object(cfg, BUCKET, "raw/blob.bin") == bytes(range(64))


def test_bad_signature_rejected(s3_server):
    cfg = s3_py.S3Config(
        access_key=ACCESS,
        secret_key="wrong",
        endpoint=f"http://127.0.0.1:{s3_server.server_address[1]}",
        region=REGION,
        path_style=True,
    )
    with pytest.raises(s3_py.S3Error, match="403"):
        s3_py.list_objects(cfg, BUCKET, "")


def test_registry_s3_fallback_e2e(spark, s3_server, tmp_path, monkeypatch):
    """A configured s3:// csv source loads end-to-end without hadoop-aws:
    credential config flows through the SAME fs.s3a.* keys the jar path
    uses, the SigV4 client stages the objects, the normal reader takes
    over (eager/buffered registration)."""
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    from datafusion_server_spark.sources import credentials
    from datafusion_server_spark.sources.registry import DataSource, load_data_source

    credentials.configure_s3(
        spark,
        access_key=ACCESS,
        secret_key=SECRET,
        endpoint=f"http://127.0.0.1:{s3_server.server_address[1]}",
        region=REGION,
        bucket=BUCKET,
        path_style=True,
    )
    ds = DataSource.from_json(
        {"format": "csv", "name": "s3csv", "location": f"s3://{BUCKET}/data/",
         "options": {"inferSchema": True}}
    )
    df, eager = load_data_source(spark, ds)
    assert eager is True
    assert sorted((r["id"], r["name"]) for r in df.collect()) == [
        (1, "alice"), (2, "bob"), (3, "carol"),
    ]


def test_registry_s3_makes_no_failed_connector_read(spark, s3_server, tmp_path, monkeypatch,
                                                    connector_reads):
    """Without hadoop-aws an s3:// source is staged straight away: no
    s3a:// read is tried and failed first."""
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    from datafusion_server_spark.sources import credentials
    from datafusion_server_spark.sources.registry import DataSource, load_data_source

    credentials.configure_s3(
        spark, access_key=ACCESS, secret_key=SECRET,
        endpoint=f"http://127.0.0.1:{s3_server.server_address[1]}",
        region=REGION, bucket=BUCKET, path_style=True,
    )
    ds = DataSource.from_json({"format": "csv", "name": "s3csv", "location": f"s3://{BUCKET}/data/"})
    df, eager = load_data_source(spark, ds)
    assert connector_reads == []
    assert eager is True
    assert sorted((r["id"], r["name"]) for r in df.collect()) == [
        (1, "alice"), (2, "bob"), (3, "carol"),
    ]


def test_restage_clears_stale_files(spark, s3_server, tmp_path):
    """Re-staging a prefix after objects were deleted in S3 must not
    leave phantom files from the previous staging behind."""
    from datafusion_server_spark.sources import credentials

    credentials.configure_s3(
        spark, access_key=ACCESS, secret_key=SECRET,
        endpoint=f"http://127.0.0.1:{s3_server.server_address[1]}",
        region=REGION, bucket=BUCKET, path_style=True,
    )
    d1 = s3_py.stage_prefix(spark, f"s3://{BUCKET}/data/", str(tmp_path))
    import os

    assert len(os.listdir(d1)) == 3
    del s3_server.objects["data/part-2.csv"]
    d2 = s3_py.stage_prefix(spark, f"s3://{BUCKET}/data/", str(tmp_path))
    assert d2 == d1
    assert len(os.listdir(d2)) == 2  # stale part-2 is GONE


def test_stage_refuses_oversize(spark, s3_server, tmp_path):
    from datafusion_server_spark.sources import credentials

    credentials.configure_s3(
        spark,
        access_key=ACCESS,
        secret_key=SECRET,
        endpoint=f"http://127.0.0.1:{s3_server.server_address[1]}",
        region=REGION,
        bucket=BUCKET,
        path_style=True,
    )
    with pytest.raises(s3_py.S3Error, match="beyond the"):
        s3_py.stage_prefix(
            spark, f"s3://{BUCKET}/data/", str(tmp_path), max_bytes=10
        )
