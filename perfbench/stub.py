#!/usr/bin/env python3
"""Loopback stand-in for the Dreem (DRM) and DMP services.

Serves the five endpoints the pipeline's live transfer talks to:

  POST /drm/token                               DRM token (basic auth)
  POST /dmp/token                               DMP token (signature auth)
  GET  /drm/dreem/algorythm/record/<ref>/h5/    record metadata -> data_url
  GET  /files/<ref>                             file payload
  POST /dmp/graphql                             GraphQL multipart upload

Payload sizes and bytes are a function of (seed, ref). Every upload is
checked: the file part's sha256 must equal the `hash` variable, and each zip
member `<ref>.h5` must hold exactly the bytes served for that ref. Requests
and bytes are counted per endpoint; `GET /__stats` returns the counters and,
per group id, the member refs of its last valid upload; `POST /__reset`
forgets the groups.

Usage: python3 stub.py --seed <n> --threads <n>
Prints the port it listens on (127.0.0.1) as its first line of stdout.
"""
import argparse
import base64
import concurrent.futures
import hashlib
import io
import json
import re
import threading
import time
import zipfile
from http.server import BaseHTTPRequestHandler, HTTPServer

RECORD = re.compile(r"^/drm/dreem/algorythm/record/([A-Za-z0-9._-]+)/h5/$")
FILE = re.compile(r"^/files/([A-Za-z0-9._-]+)$")


def payload(seed, ref):
    """Deterministic bytes for `ref`: 4 to 64 KiB that do not compress, like
    the recordings they stand in for."""
    key = f"{seed}:{ref}".encode()
    size = 4096 + int.from_bytes(hashlib.sha256(key).digest()[:4], "big") % (60 * 1024)
    return hashlib.shake_256(key).digest(size)


def jwt():
    enc = lambda b: base64.urlsafe_b64encode(b).rstrip(b"=").decode()
    exp = int(time.time()) + 3600
    return enc(b'{"alg":"none"}') + "." + enc(json.dumps({"exp": exp}).encode()) + ".s"


class State:
    def __init__(self, seed):
        self.seed = seed
        self.lock = threading.Lock()
        self.counts = {}
        self.groups = {}

    def count(self, endpoint, nbytes):
        with self.lock:
            n, b = self.counts.get(endpoint, (0, 0))
            self.counts[endpoint] = (n + 1, b + nbytes)

    def stats(self):
        with self.lock:
            c = dict(self.counts)
            get = lambda k, i: c.get(k, (0, 0))[i]
            return {
                "requests": sum(v[0] for k, v in c.items() if k != "invalid_upload"),
                "token_requests": get("drm_token", 0) + get("dmp_token", 0),
                "uploads": get("upload", 0),
                "invalid_uploads": get("invalid_upload", 0),
                "download_bytes": get("file", 1),
                "upload_bytes": get("upload", 1),
                "endpoints": {k: {"requests": v[0], "bytes": v[1]} for k, v in c.items()},
                "groups": dict(self.groups),
            }


def parse_multipart(body, boundary):
    """{name: bytes} of a multipart/form-data body."""
    parts = {}
    for chunk in body.split(b"--" + boundary)[1:]:
        if chunk.startswith(b"--"):
            break
        head, _, data = chunk.partition(b"\r\n\r\n")
        m = re.search(rb'name="([^"]+)"', head)
        if m:
            parts[m.group(1).decode()] = data[:-2] if data.endswith(b"\r\n") else data
    return parts


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, *args):
        pass

    def body(self):
        if self.headers.get("Transfer-Encoding", "").lower() == "chunked":
            out = bytearray()
            while True:
                size = int(self.rfile.readline().split(b";")[0].strip(), 16)
                if size == 0:
                    while self.rfile.readline() not in (b"\r\n", b"\n", b""):
                        pass
                    return bytes(out)
                out += self.rfile.read(size)
                self.rfile.readline()
        return self.rfile.read(int(self.headers.get("Content-Length") or 0))

    def reply(self, status, data, ctype="application/json"):
        if isinstance(data, (dict, list)):
            data = json.dumps(data).encode()
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.send_header("Connection", "close")
        self.end_headers()
        self.wfile.write(data)
        self.close_connection = True

    def do_GET(self):
        st = self.server.state
        if self.path == "/__stats":
            return self.reply(200, st.stats())
        m = RECORD.match(self.path)
        if m:
            st.count("record", 0)
            host = self.headers.get("Host")
            return self.reply(200, {"data_url": f"http://{host}/files/{m.group(1)}"})
        m = FILE.match(self.path)
        if m:
            data = payload(st.seed, m.group(1))
            st.count("file", len(data))
            return self.reply(200, data, "application/octet-stream")
        self.reply(404, {"error": self.path})

    def do_POST(self):
        st = self.server.state
        body = self.body()
        if self.path == "/__reset":
            with st.lock:
                st.groups.clear()
            return self.reply(200, {})
        if self.path == "/drm/token":
            st.count("drm_token", len(body))
            if not self.headers.get("Authorization", "").startswith("Basic "):
                return self.reply(401, {"error": "basic auth required"})
            return self.reply(200, {"token": jwt()})
        if self.path == "/dmp/token":
            st.count("dmp_token", len(body))
            return self.reply(200, {"data": {"issueAccessToken": {"accessToken": jwt()}}})
        if self.path == "/dmp/graphql":
            st.count("upload", len(body))
            error = self.check_upload(body)
            if error:
                st.count("invalid_upload", 0)
                return self.reply(200, {"errors": [{"message": error}]})
            return self.reply(200, {"data": {"uploadFile": {"id": "ok"}}})
        self.reply(404, {"error": self.path})

    def check_upload(self, body):
        """None when the upload is intact, else what is wrong with it."""
        st = self.server.state
        m = re.search(r"boundary=(\S+)", self.headers.get("Content-Type", ""))
        if not m:
            return "no multipart boundary"
        parts = parse_multipart(body, m.group(1).encode())
        try:
            variables = json.loads(parts["operations"])["variables"]
            data = parts["fileName"]
        except (KeyError, ValueError) as e:
            return f"malformed upload: {e}"
        if hashlib.sha256(data).hexdigest() != variables.get("hash"):
            return "checksum mismatch"
        refs = []
        try:
            with zipfile.ZipFile(io.BytesIO(data)) as z:
                for name in z.namelist():
                    ref = name[:-3] if name.endswith(".h5") else name
                    if z.read(name) != payload(st.seed, ref):
                        return f"member {name} differs from the served file"
                    refs.append(ref)
        except zipfile.BadZipFile as e:
            return f"not a zip: {e}"
        fname = re.search(rb'filename="([^"]+)"', body)
        group = fname.group(1).decode().rsplit(".", 1)[0] if fname else "?"
        with st.lock:
            st.groups[group] = sorted(refs)
        return None


class PoolServer(HTTPServer):
    """HTTP server answering on a bounded pool of worker threads."""

    def __init__(self, addr, handler, state, threads):
        super().__init__(addr, handler)
        self.state = state
        self.pool = concurrent.futures.ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--threads", type=int, required=True)
    a = ap.parse_args()
    server = PoolServer(("127.0.0.1", 0), Handler, State(a.seed), a.threads)
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever()
    finally:
        server.pool.shutdown(wait=True)


if __name__ == "__main__":
    main()
