"""ClickHouse HTTP client: one POST per operation, the way curl and the
HTTP-based ClickHouse clients talk to the server."""
import http.client
import urllib.parse


class ChError(Exception):
    """Non-200 answer (the statement failed)."""


def post(port, body, query=None, timeout=30.0):
    """POST `body`; with `query` it goes in ?query= and the body is the
    ingest payload. Returns the response bytes."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        path = "/" if query is None else "/?query=" + urllib.parse.quote(query)
        data = body.encode() if isinstance(body, str) else body
        conn.request("POST", path, body=data,
                     headers={"Content-Type": "text/plain; charset=UTF-8"})
        resp = conn.getresponse()
        out = resp.read()
        if resp.status != 200:
            raise ChError("HTTP %d: %s" % (resp.status, out[:300].decode(errors="replace")))
        return out
    finally:
        conn.close()
