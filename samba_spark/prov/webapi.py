"""Thin HTTP JSON layer over the provenance query surface (SURVEY.md
§2.2 A19) — the PySpark-native analogue of the reference's Kotlin/Spring
web application (SAMbA/WebApplication/src/main/kotlin/br/uff/samba/web/
controllers/ExecutionAPICtrl.kt:15-27, TaskAPICtrl.kt:15-61,
DataElementAPICtrl.kt:29-320).

The lineage routes (execution, task and dataelement graph/graphOfTask/
table) are read-only and Spark-free: each handler reads the parquet files
with pyarrow (``ProvStore.read_arrow``, pushing the run/task/element ids
down as filters) and assembles the small, graph-sized answer in the web
server's memory, as the reference's Spring controllers do
(DataElementAPICtrl.kt:42-179). Transitive walks run the in-memory BFS of
``prov.queries.lineage_walk``. A request starts no Spark job, never
flushes the store's write buffers and keeps no cache, so it sees exactly
what has been flushed. The file-tree and download routes read the
ArtifactStore manifests with pyarrow the same way (``ArtifactStore.
file_tree``), so no route starts a Spark job.

Pure stdlib (http.server + json): no web framework is required, matching
the survey's "optional thin HTTP" scoping. ``ProvWebAPI.handle`` is a pure
route dispatcher usable (and tested) without opening a socket;
``ProvWebAPI.start()`` serves it on an ephemeral port in a daemon thread.

Endpoint map (reference route → ours, same path shape):

- GET /api/execution/list                  ExecutionAPICtrl.kt:20-22
- GET /api/execution/find/{id}             ExecutionAPICtrl.kt:24-26
- GET /api/task/graph/{executionID}        TaskAPICtrl.kt:22-35
- GET /api/task/info/{executionID}?taskID= TaskAPICtrl.kt:37-60
- GET /api/dataelement/graph/{executionID}[?includeDropped=true]
                                           DataElementAPICtrl.kt:42-103
- GET /api/dataelement/graphOfTask/{executionID}?taskID=
      [&direction=up|down&transitive=true] DataElementAPICtrl.kt:106-179
- GET /api/dataelement/table/{elementId}?executionID=
                                           DataElementAPICtrl.kt:181-233
- GET /api/dataelement/repositoryFileTree/{executionId}
                                           DataElementAPICtrl.kt:317-320
- GET /api/dataelement/download?executionID=&group=&file= (or &sha256=)
                                           DataElementAPICtrl.kt:280-314
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Optional
from urllib.parse import parse_qs, urlparse

from samba_spark.operators.wrapper import DROP_SENTINEL_PREFIX
from samba_spark.prov import queries as Q
from samba_spark.prov.store import _RUN_ID_RE

# Task-node color legend, one color per transformation type — the web UI
# renders the element graph with a per-task color key
# (DataElementAPICtrl.kt:60-78 builds the same legend server-side).
_PALETTE = [
    "#4e79a7", "#f28e2b", "#e15759", "#76b7b2", "#59a14f",
    "#edc948", "#b07aa1", "#ff9da7", "#9c755f", "#bab0ac",
]


# User-supplied identifiers that reach the FILESYSTEM (blob paths, run-dir
# globs) must be charset-validated first: a sha256 of "../../etc/passwd"
# would otherwise escape the blob dir via os.path.join, and a run_id of
# "*" (or "../x") would widen/escape the manifest glob. run_ids are
# uuid4 strings (artifacts.py:120) but any dot-free [A-Za-z0-9_-] token
# that can't traverse or glob is accepted.
# \Z, not $: Python's $ also matches before a trailing newline, so a
# %0A-terminated token would pass a $-anchored check. The run-id rule is
# the store's own: it names each run's metadata files.
_SHA256_RE = re.compile(r"\A[0-9a-f]{64}\Z")


def _safe_sha256(sha: str) -> str:
    if not _SHA256_RE.match(sha):
        raise HTTPError(400, "sha256 must match ^[0-9a-f]{64}$")
    return sha


def _safe_run_id(run_id: str) -> str:
    if not _RUN_ID_RE.match(run_id):
        raise HTTPError(400, "run_id contains disallowed characters")
    return run_id


class HTTPError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


class ProvWebAPI:
    """Route dispatcher over a ProvStore (+ optional ArtifactStore for the
    file-tree/download endpoints, which the reference serves from its git
    repositories — ours from the content-addressed ArtifactStore)."""

    def __init__(self, store, artifacts=None):
        self.store = store
        self.artifacts = artifacts

    def _read(self, table: str, columns=None, **where) -> list[dict]:
        return self.store.read_arrow(table, columns, **where).to_pylist()

    # -- dispatch ----------------------------------------------------------
    def handle(self, path: str, params: dict[str, str]) -> tuple[int, str, Any]:
        """Dispatch one GET. Returns (status, content_type, payload);
        payload is a JSON-able object unless content_type is
        application/octet-stream (then raw bytes)."""
        parts = [p for p in path.split("/") if p]
        try:
            if not parts or parts == ["ui"] or parts == ["index.html"]:
                # Browser frontend (reference parity: the WebApplication
                # templates/static views) — one self-contained page
                # rendered client-side from the JSON routes below.
                from samba_spark.prov.webui import INDEX_HTML

                return 200, "text/html; charset=utf-8", INDEX_HTML
            if parts[:2] == ["api", "execution"]:
                if parts[2:] == ["list"]:
                    return 200, "application/json", self.list_executions()
                if len(parts) == 4 and parts[2] == "find":
                    return 200, "application/json", self.find_execution(parts[3])
            elif parts[:2] == ["api", "task"]:
                if len(parts) == 4 and parts[2] == "graph":
                    return 200, "application/json", self.task_graph(parts[3])
                if len(parts) == 4 and parts[2] == "info":
                    return 200, "application/json", self.task_info(
                        parts[3], _req(params, "taskID")
                    )
            elif parts[:2] == ["api", "dataelement"]:
                if len(parts) == 4 and parts[2] == "graph":
                    return 200, "application/json", self.element_graph(
                        parts[3], params.get("includeDropped") == "true"
                    )
                if len(parts) == 4 and parts[2] == "graphOfTask":
                    return 200, "application/json", self.graph_of_task(
                        parts[3],
                        _req(params, "taskID"),
                        direction=params.get("direction", "up"),
                        transitive=params.get("transitive") == "true",
                    )
                if len(parts) == 4 and parts[2] == "table":
                    return 200, "application/json", self.element_table(
                        _req(params, "executionID"), parts[3]
                    )
                if len(parts) == 4 and parts[2] == "repositoryFileTree":
                    return 200, "application/json", self.repository_file_tree(
                        parts[3]
                    )
                if parts[2:] == ["download"]:
                    return (
                        200,
                        "application/octet-stream",
                        self.download(
                            _req(params, "executionID"),
                            sha256=params.get("sha256"),
                            group=params.get("group"),
                            file_name=params.get("file"),
                        ),
                    )
        except HTTPError as e:
            return e.status, "application/json", {"error": str(e)}
        except Exception as e:  # noqa: BLE001 — HTTP boundary: any read
            # or query error must become a 500 response, not a dropped
            # connection out of do_GET.
            return (
                500,
                "application/json",
                {"error": f"{type(e).__name__}: {e}"},
            )
        return 404, "application/json", {"error": f"no route for {path}"}

    # -- executions --------------------------------------------------------
    def list_executions(self) -> list[dict]:
        return self._read("executions")

    def find_execution(self, run_id: str) -> dict:
        rows = self._read("executions", run_id=run_id)
        if not rows:
            raise HTTPError(404, f"execution {run_id} not found")
        return rows[0]

    # -- tasks -------------------------------------------------------------
    def task_graph(self, run_id: str) -> dict:
        """Task DAG as {nodes, edges} (TaskAPICtrl.kt:22-35)."""
        upstream: dict[str, list[str]] = {}
        for d in self._read("task_deps", ["task_id", "dep_task_id"], run_id=run_id):
            upstream.setdefault(d["task_id"], []).append(d["dep_task_id"])
        nodes, edges = {}, []
        for t in self._read(
            "tasks", ["task_id", "transformation_type", "description"],
            run_id=run_id,
        ):
            nodes[t["task_id"]] = {
                "id": t["task_id"],
                "transformation_type": t["transformation_type"],
                "description": t["description"],
            }
            edges += [
                {"source": u, "target": t["task_id"]}
                for u in upstream.get(t["task_id"], ())
            ]
        return {"nodes": list(nodes.values()), "edges": edges}

    def task_info(self, run_id: str, task_id: str) -> dict:
        """One task + its direct upstream tasks (TaskAPICtrl.kt:37-60)."""
        g = self.task_graph(run_id)
        node = next((n for n in g["nodes"] if n["id"] == task_id), None)
        if node is None:
            raise HTTPError(404, f"task {task_id} not found in run {run_id}")
        ups = [e["source"] for e in g["edges"] if e["target"] == task_id]
        by_id = {n["id"]: n for n in g["nodes"]}
        return {"task": node, "upstream": [by_id[u] for u in ups if u in by_id]}

    # -- element lineage ---------------------------------------------------
    def element_graph(self, run_id: str, include_dropped: bool = False) -> dict:
        """Full element lineage graph with the per-task color legend
        (DataElementAPICtrl.kt:42-103). Drop-sentinel elements are hidden
        by default, matching the web UI's substring filter
        (DataElementAPICtrl.kt:80)."""
        import pyarrow.compute as pc

        deps = self.store.read_arrow(
            "element_deps", ["dep_element_id", "element_id", "task_id"],
            run_id=run_id,
        )
        if not include_dropped:
            deps = deps.filter(pc.invert(
                pc.starts_with(deps["element_id"], DROP_SENTINEL_PREFIX)
            ))
        edges = deps.rename_columns(["source", "target", "task"]).to_pylist()
        tasks = self._read("tasks", ["task_id", "transformation_type"], run_id=run_id)
        legend = {
            t["task_id"]: {
                "transformation_type": t["transformation_type"],
                "color": _PALETTE[i % len(_PALETTE)],
            }
            for i, t in enumerate(sorted(tasks, key=lambda t: t["task_id"]))
        }
        node_ids = sorted(
            {e["source"] for e in edges} | {e["target"] for e in edges}
        )
        return {
            "nodes": [{"id": n} for n in node_ids],
            "edges": edges,
            "legend": legend,
        }

    def graph_of_task(
        self,
        run_id: str,
        task_id: str,
        direction: str = "up",
        transitive: bool = False,
    ) -> dict:
        """Elements produced/consumed by one task, optionally expanded to
        the transitive closure (DataElementAPICtrl.kt:106-179). Produced:
        the task's elements. Consumed: the distinct inputs of the task's
        deps that exist in ``elements``."""
        def ids(table, column, **where):
            t = self.store.read_arrow(table, [column], run_id=run_id, **where)
            return t[column].to_pylist()

        produced = ids("elements", "element_id", task_id=task_id)
        inputs = list(dict.fromkeys(ids("element_deps", "dep_element_id", task_id=task_id)))
        known = set(ids("elements", "element_id", element_id=inputs))
        out = {
            "task_id": task_id,
            "produced": produced,
            "consumed": [e for e in inputs if e in known],
        }
        if transitive:
            roots = out["produced"] if direction == "down" else out["consumed"]
            hops = Q.lineage_walk(self.store, run_id, roots, direction)
            out["transitive"] = sorted(hops.items())
        return out

    def element_table(self, run_id: str, element_id: str) -> dict:
        """Element values rendered under their task's schema header
        (DataElementAPICtrl.kt:181-233)."""
        rows = self._read("elements", run_id=run_id, element_id=element_id)
        if not rows:
            raise HTTPError(404, f"element {element_id} not found")
        r = rows[0]
        tasks = self._read(
            "tasks", ["schema_fields", "description"],
            run_id=run_id, task_id=r["task_id"],
        )
        task = tasks[0] if tasks else {}
        return {
            "element_id": r["element_id"],
            "task_id": r["task_id"],
            "schema": task.get("schema_fields") or [],
            "values": r["values"] or [],
            "value_json": r["value_json"],
            "task_description": task.get("description"),
        }

    # -- artifacts (git analogue) -------------------------------------------
    def repository_file_tree(self, run_id: str) -> dict:
        """Nested run → group → files tree (DataElementAPICtrl.kt:317-320
        walks the JGit tree; ours lists the ArtifactStore manifest)."""
        if self.artifacts is None:
            raise HTTPError(503, "no ArtifactStore attached")
        _safe_run_id(run_id)
        try:
            rows = self.artifacts.file_tree(run_id).to_pylist()
        except FileNotFoundError as e:
            raise HTTPError(404, f"no artifacts for run {run_id}: {e}")
        groups: dict[str, list[dict]] = {}
        for r in sorted(rows, key=lambda r: (r["group_name"], r["file_name"])):
            groups.setdefault(r["group_name"], []).append(
                {
                    "name": r["file_name"],
                    "size": r["size"],
                    "modified": r["modified"],
                    "sha256": r["sha256"],
                }
            )
        return {
            "run_id": run_id,
            "groups": [
                {"name": g, "files": fs} for g, fs in sorted(groups.items())
            ],
        }

    def download(
        self,
        run_id: str,
        sha256: Optional[str] = None,
        group: Optional[str] = None,
        file_name: Optional[str] = None,
    ) -> bytes:
        """File content by sha256, or by (group, file) resolved through the
        manifest (DataElementAPICtrl.kt:280-314 streams from git)."""
        if self.artifacts is None:
            raise HTTPError(503, "no ArtifactStore attached")
        if sha256 is not None:
            _safe_sha256(sha256)
        if sha256 is None:
            if group is None or file_name is None:
                raise HTTPError(400, "need sha256 or group+file")
            _safe_run_id(run_id)
            try:
                rows = self.artifacts.file_tree(run_id).to_pylist()
            except FileNotFoundError as e:
                raise HTTPError(404, f"no artifacts for run {run_id}: {e}")
            sha256 = next(
                (r["sha256"] for r in rows
                 if r["group_name"] == group and r["file_name"] == file_name),
                None,
            )
            if sha256 is None:
                raise HTTPError(404, f"{group}/{file_name} not in run {run_id}")
        try:
            return self.artifacts.read_blob(sha256)
        except FileNotFoundError:
            raise HTTPError(404, f"blob {sha256} not found")

    # -- socket layer --------------------------------------------------------
    def start(self, host: str = "127.0.0.1", port: int = 0) -> "ProvWebServer":
        """Serve on (host, port) — port 0 picks an ephemeral port — in a
        daemon thread. Returns the server; call .shutdown() when done."""
        return ProvWebServer(self, host, port)


def _req(params: dict[str, str], key: str) -> str:
    v = params.get(key)
    if not v:
        raise HTTPError(400, f"missing required query param {key}")
    return v


class ProvWebServer:
    def __init__(self, api: ProvWebAPI, host: str, port: int):
        api_ref = api

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib handler contract)
                u = urlparse(self.path)
                params = {k: v[0] for k, v in parse_qs(u.query).items()}
                status, ctype, payload = api_ref.handle(u.path, params)
                if isinstance(payload, bytes):
                    body = payload
                elif ctype.startswith("text/html"):
                    body = payload.encode()
                else:
                    body = json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # silence per-request stderr lines
                pass

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self.httpd.server_address[1]
        self.host = host
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True
        )
        self._thread.start()

    @property
    def url(self) -> str:
        return f"http://{self.host}:{self.port}"

    def shutdown(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self._thread.join(timeout=5)
