"""S12 — HTTP control plane (list / run / fetch).

The reference exposes a tiny Flask app (``/root/reference/backend_api.py:11-52``)
with four endpoints: list the runnable cleaning scripts, run one as a
subprocess with a 300 s timeout, list the output files, and fetch one
output file's content — plus a static HTML front page
(``/root/reference/frontend.html``).

Spark-first re-expression, stdlib-only (``http.server``; no Flask
dependency):

- the "scripts" are the engine's registered query plans
  (``plans.queries.QUERIES``) — every runnable unit of work, including
  the flagship ``contacts_pipeline_e2e`` pipeline — not .py files run
  via subprocess. One shared SparkSession serves all requests (created
  lazily on the first ``/run``), so repeat runs pay no JVM startup.
- the reference's subprocess timeout maps to Spark job-group
  cancellation: each run executes under its own job group with
  ``interruptOnCancel``, and a timer cancels the group at the deadline —
  the Spark-native way to bound a runaway query without killing the
  server.
- runs are serialized with a lock: the control plane is an operator
  surface, not a concurrency scheduler; a real deployment would submit
  to a job server / Spark Connect endpoint instead (SURVEY.md §2.1 S12).
- output files are written with the engine's own single-file TSV sink
  (``io.writers.write_tsv_single`` — the CRM-export path) into a
  caller-chosen output directory; ``/output/<name>`` serves them back
  with a path-containment guard the reference lacks.

Endpoints (reference-parity shapes):

- ``GET  /scripts``      -> ``{"scripts": [name, ...]}``
- ``POST /run``          <- ``{"script": name, "sf_dir"?: str, "timeout"?: sec}``
                         -> ``{"stdout": str, "stderr": str, "returncode": int,
                               "rows": int, "output": filename}``
- ``GET  /output-files`` -> ``{"files": [filename, ...]}``
- ``GET  /output/<f>``   -> ``{"content": str}``
- ``GET  /``             -> minimal HTML page (frontend.html parity)

The server binds 127.0.0.1 by default; it is an operator tool, not an
internet-facing service.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable, Optional

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.001"
DEFAULT_TIMEOUT_S = 300.0  # backend_api.py:26 subprocess timeout parity

#: Browser UI with the reference frontend's capabilities
#: (frontend.html:100-151: script picker with per-script summary, run
#: button with progress indicator, result panel, output-file list +
#: inline viewer) rebuilt minimal: descriptions come live from the
#: registry docstrings (/script-info) instead of a hard-coded table,
#: and fetches are relative so the page works on any host:port.
_INDEX_HTML = """<!doctype html>
<html><head><meta charset="utf-8"><title>pipeline control plane</title>
<style>
 body{font-family:system-ui,sans-serif;max-width:860px;margin:2rem auto;
      padding:0 1rem;background:#14161d;color:#e0e6ef}
 select,button{font-size:1rem;padding:.4rem .6rem;border-radius:6px;
      border:1px solid #3a4157;background:#232837;color:#e0e6ef}
 button{cursor:pointer} pre{background:#1b1f2a;padding:.8rem;
      border-radius:8px;overflow:auto;max-height:420px;white-space:pre-wrap}
 #desc{color:#9fb3d0;margin:.6rem 0} a{color:#7ecfff}
 .file{cursor:pointer;text-decoration:underline;color:#7ecfff;
      margin-right:1rem}
</style></head>
<body>
<h1>Contacts pipeline &mdash; control plane</h1>
<p><select id="sel"></select>
   <button id="run">Run</button>
   <span id="busy" style="display:none">running&hellip;</span></p>
<div id="desc"></div>
<pre id="result" style="display:none"></pre>
<div id="files"></div>
<pre id="viewer" style="display:none"></pre>
<script>
let INFO = {};
async function init(){
  const s = await (await fetch('/scripts')).json();
  try { INFO = (await (await fetch('/script-info')).json()).info || {}; }
  catch (e) { INFO = {}; }
  const sel = document.getElementById('sel');
  for (const name of s.scripts){
    const o = document.createElement('option');
    o.value = o.textContent = name; sel.appendChild(o);
  }
  sel.onchange = () =>
    document.getElementById('desc').textContent = INFO[sel.value] || '';
  sel.onchange();
  refreshFiles();
}
async function refreshFiles(){
  const f = await (await fetch('/output-files')).json();
  const div = document.getElementById('files');
  div.innerHTML = f.files.length ? '<b>Output files:</b> ' : '';
  for (const name of f.files){
    const a = document.createElement('span');
    a.className = 'file'; a.textContent = name;
    a.onclick = async () => {
      const c = await (await fetch('/output/' + encodeURIComponent(name))).json();
      const v = document.getElementById('viewer');
      v.style.display = 'block'; v.textContent = c.content ?? c.error;
    };
    div.appendChild(a);
  }
}
document.addEventListener('DOMContentLoaded', init);
window.addEventListener('load', () => {
  document.querySelector('#run').onclick = async () => {
    const busy = document.querySelector('#busy');
    const out = document.querySelector('#result');
    busy.style.display = 'inline'; out.style.display = 'none';
    try {
      const body = JSON.stringify({script: document.querySelector('#sel').value});
      const r = await fetch('/run', {method: 'POST', body});
      const j = await r.json();
      out.textContent = (j.stdout || '') + (j.stderr || '');
      refreshFiles();
    } catch (e) {
      out.textContent = 'request failed: ' + e;
    } finally {
      busy.style.display = 'none'; out.style.display = 'block';
    }
  };
});
</script>
</body></html>
"""


class ControlPlane:
    """State shared by all requests: lazy SparkSession, run lock, dirs."""

    def __init__(
        self,
        output_dir: str,
        sf_dir: str = DEFAULT_SF_DIR,
        spark_factory: Optional[Callable[[], SparkSession]] = None,
        timeout_s: float = DEFAULT_TIMEOUT_S,
    ) -> None:
        self.output_dir = os.path.abspath(output_dir)
        self.sf_dir = sf_dir
        self.timeout_s = timeout_s
        self._spark_factory = spark_factory
        self._spark: Optional[SparkSession] = None
        self._lock = threading.Lock()
        os.makedirs(self.output_dir, exist_ok=True)

    # -- spark ---------------------------------------------------------
    def spark(self) -> SparkSession:
        if self._spark is None:
            if self._spark_factory is not None:
                self._spark = self._spark_factory()
            else:
                from bcg_contacts_data_pipeline_spark.session import get_spark

                self._spark = get_spark("control-plane")
        return self._spark

    # -- operations ----------------------------------------------------
    def scripts(self) -> list[str]:
        from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES

        return sorted(QUERIES)

    def script_info(self) -> dict[str, str]:
        """First docstring line per registered query — the live
        counterpart of the reference frontend's hard-coded SCRIPT_INFO
        table (frontend.html:126-151)."""
        from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES

        info = {}
        for name, fn in QUERIES.items():
            doc = (fn.__doc__ or "").strip()
            info[name] = doc.splitlines()[0] if doc else ""
        return info

    def run(self, name: str, sf_dir: str | None, timeout_s: float | None) -> dict:
        from bcg_contacts_data_pipeline_spark.io.writers import write_tsv_single
        from bcg_contacts_data_pipeline_spark.operators.pins import PinScope
        from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES

        fn = QUERIES[name]
        spark = self.spark()
        sf = sf_dir or self.sf_dir
        deadline = timeout_s if timeout_s is not None else self.timeout_s
        out_name = f"{name}.tsv"
        out_path = os.path.join(self.output_dir, out_name)

        with self._lock, PinScope():
            sc = spark.sparkContext
            group = f"control-plane-{uuid.uuid4().hex[:12]}"
            sc.setJobGroup(group, f"/run {name}", interruptOnCancel=True)
            timer = threading.Timer(deadline, sc.cancelJobGroup, args=(group,))
            timer.daemon = True
            t0 = time.time()
            try:
                timer.start()
                df = fn(spark, sf)
                # results are scalar-typed by the registry contract
                # (tests/test_canonicalizable.py), so TSV is lossless
                rows = df.count()
                write_tsv_single(df, out_path)
                took = time.time() - t0
                return {
                    "stdout": f"{name}: {rows} rows in {took:.1f}s -> {out_name}\n",
                    "stderr": "",
                    "returncode": 0,
                    "rows": rows,
                    "output": out_name,
                }
            except Exception as e:  # noqa: BLE001 — surface, don't crash the server
                return {
                    "stdout": "",
                    "stderr": f"{type(e).__name__}: {e}\n",
                    "returncode": 1,
                    "rows": None,
                    "output": None,
                }
            finally:
                timer.cancel()
                sc.setJobGroup(None, None)  # type: ignore[arg-type]

    def output_files(self) -> list[str]:
        return sorted(
            f
            for f in os.listdir(self.output_dir)
            if os.path.isfile(os.path.join(self.output_dir, f))
        )

    def output_path(self, filename: str) -> str | None:
        """Containment-guarded resolution (the reference joins
        unchecked — backend_api.py:37 — which is a traversal hole)."""
        path = os.path.abspath(os.path.join(self.output_dir, filename))
        if os.path.dirname(path) != self.output_dir:
            return None
        return path if os.path.isfile(path) else None


class _Handler(BaseHTTPRequestHandler):
    plane: ControlPlane  # set by make_server

    # -- plumbing ------------------------------------------------------
    def _send(self, code: int, payload: dict | str, ctype: str = "application/json") -> None:
        body = (
            json.dumps(payload).encode()
            if isinstance(payload, dict)
            else payload.encode()
        )
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        # CORS parity with the reference's flask_cors.CORS(app)
        self.send_header("Access-Control-Allow-Origin", "*")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, fmt: str, *args) -> None:  # quiet under pytest
        pass

    # -- routes --------------------------------------------------------
    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        if self.path == "/":
            self._send(200, _INDEX_HTML, ctype="text/html")
        elif self.path == "/scripts":
            self._send(200, {"scripts": self.plane.scripts()})
        elif self.path == "/script-info":
            self._send(200, {"info": self.plane.script_info()})
        elif self.path == "/output-files":
            self._send(200, {"files": self.plane.output_files()})
        elif self.path.startswith("/output/"):
            name = self.path[len("/output/") :]
            path = self.plane.output_path(name)
            if path is None:
                self._send(404, {"error": "File not found"})
                return
            try:
                with open(path, encoding="utf-8") as f:
                    self._send(200, {"content": f.read()})
            except OSError as e:
                self._send(500, {"error": str(e)})
        else:
            self._send(404, {"error": "Not found"})

    def do_POST(self) -> None:  # noqa: N802
        if self.path != "/run":
            self._send(404, {"error": "Not found"})
            return
        try:
            n = int(self.headers.get("Content-Length", "0"))
            data = json.loads(self.rfile.read(n) or b"{}")
        except (ValueError, TypeError):
            self._send(400, {"error": "Invalid JSON body"})
            return
        name = data.get("script")
        if not isinstance(name, str) or not name:
            self._send(400, {"error": "Invalid script name"})
            return
        if name not in self.plane.scripts():
            self._send(404, {"error": "Script not found"})
            return
        sf_override = data.get("sf_dir")
        if sf_override is not None and (
            not isinstance(sf_override, str) or not os.path.isdir(sf_override)
        ):
            # fail the request with a clear 400 instead of surfacing a
            # Spark AnalysisException stack from a bad path later. The
            # local-POSIX constraint is deliberate AND stated in the
            # body: os.path.isdir rejects URI schemes a Spark session
            # could otherwise read (hdfs://, s3a://) — the control
            # plane's contract is local directories only.
            self._send(
                400,
                {
                    "error": "sf_dir must be an existing LOCAL directory "
                    "(URI schemes like hdfs:// or s3a:// are not "
                    "supported by this control plane)"
                },
            )
            return
        timeout = data.get("timeout")
        result = self.plane.run(
            name,
            sf_dir=data.get("sf_dir"),
            timeout_s=float(timeout) if timeout is not None else None,
        )
        self._send(200 if result["returncode"] == 0 else 500, result)


def make_server(
    output_dir: str,
    host: str = "127.0.0.1",
    port: int = 0,
    sf_dir: str = DEFAULT_SF_DIR,
    spark_factory: Optional[Callable[[], SparkSession]] = None,
    timeout_s: float = DEFAULT_TIMEOUT_S,
) -> ThreadingHTTPServer:
    """Build a ready-to-serve control-plane server (port 0 = ephemeral,
    for tests). Caller drives ``serve_forever()`` / ``shutdown()``."""
    plane = ControlPlane(
        output_dir, sf_dir=sf_dir, spark_factory=spark_factory, timeout_s=timeout_s
    )
    handler = type("Handler", (_Handler,), {"plane": plane})
    return ThreadingHTTPServer((host, port), handler)


def main(argv: list[str] | None = None) -> int:
    import argparse

    p = argparse.ArgumentParser(prog="bcg_contacts_data_pipeline_spark.api")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=5000)
    p.add_argument("--output-dir", default="./control_plane_output")
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    args = p.parse_args(argv)
    srv = make_server(args.output_dir, host=args.host, port=args.port, sf_dir=args.sf_dir)
    print(f"control plane listening on http://{args.host}:{srv.server_address[1]}")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
