"""A Snowflake V1 wire client: login, query-request, base64 Arrow IPC
decode and chunk downloads, decoded with pyarrow (independent of Spark)."""

import base64
import http.client
import json

import pyarrow as pa
import pyarrow.ipc as ipc


class WireError(RuntimeError):
    pass


class Session:
    """One logged-in wire session over one keep-alive HTTP connection."""

    def __init__(self, port):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        self.token = None
        self.token = self._post("/session/v1/login-request", {})["data"]["token"]

    def _headers(self):
        h = {"Content-Type": "application/json"}
        if self.token:
            h["Authorization"] = f'Snowflake Token="{self.token}"'
        return h

    def _request(self, method, path, body=None):
        self.conn.request(method, path, body=body, headers=self._headers())
        resp = self.conn.getresponse()
        data = resp.read()
        if resp.status != 200:
            raise WireError(f"{method} {path}: HTTP {resp.status}")
        return data

    def _post(self, path, payload):
        out = json.loads(self._request("POST", path, json.dumps(payload)))
        if not out.get("success"):
            raise WireError(out.get("message", "request failed"))
        return out

    def query(self, sql):
        """Runs ``sql``; returns its result as a pyarrow table, once every
        chunk is fetched and decoded."""
        data = self._post("/queries/v1/query-request", {"sqlText": sql})["data"]
        tables = [ipc.open_stream(base64.b64decode(data["rowsetBase64"])).read_all()]
        chunks = data.get("chunks") or []
        for c in chunks:
            t = ipc.open_stream(self._request("GET", c["url"])).read_all()
            if t.num_rows != c["rowCount"]:
                raise WireError(f"chunk served {t.num_rows} rows, declared {c['rowCount']}")
            tables.append(t)
        return tables[0] if len(tables) == 1 else pa.concat_tables(tables)

    def close(self):
        try:
            self._request("POST", "/session?delete=true", "{}")
        except Exception:
            pass
        self.conn.close()
