"""In-process stub of an Iceberg REST catalog server — the local analog of
the ``apache/iceberg-rest-fixture`` container the reference's CI runs
(``/root/reference/.github/workflows/build.yml:6-31``).

Implements the subset of the REST catalog protocol the RestCatalog client
speaks: config, oauth token exchange, namespace CRUD + properties, table
list/load/drop/purge/rename; spec CreateTableRequest (the server assigns
the table UUID and builds the initial metadata document); spec
RegisterTableRequest (``metadata-location`` — the server loads the
document from storage); and spec CommitTableRequest: TableRequirement
validation (assert-table-uuid, assert-ref-snapshot-id,
assert-current-schema-id, …) followed by TableUpdate application
(add-snapshot, set-snapshot-ref, add-schema, set-properties, …), with
the derived fields — last-updated-ms, snapshot-log, metadata-log,
last-sequence-number, last-column-id, next-row-id — maintained
server-side, the way a real catalog owns metadata construction.  State
is held in memory."""

from __future__ import annotations

import json
import re
import threading
import time
import urllib.parse
import uuid as uuid_mod
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_NS_SEP = "\x1f"


class _State:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        self.lock = threading.Lock()
        self.namespaces: dict[tuple, dict] = {}
        self.tables: dict[tuple, dict] = {}  # ident -> {location, metadata, version}


class _Conflict(Exception):
    pass


def _max_field_id(type_json) -> int:
    best = 0
    if isinstance(type_json, dict):
        for f in type_json.get("fields", []):
            best = max(best, int(f.get("id", 0)), _max_field_id(f.get("type")))
        for key in ("element-id", "key-id", "value-id"):
            if key in type_json:
                best = max(best, int(type_json[key]))
        for key in ("element", "key", "value"):
            if key in type_json:
                best = max(best, _max_field_id(type_json[key]))
    return best


def _check_requirements(meta: dict, reqs: list[dict], exists: bool) -> None:
    """Spec TableRequirement validation; raises _Conflict on any failure."""
    for r in reqs:
        t = r.get("type")
        if t == "assert-create":
            if exists:
                raise _Conflict("table already exists")
        elif t == "assert-table-uuid":
            if meta.get("table-uuid") != r.get("uuid"):
                raise _Conflict("table uuid mismatch")
        elif t == "assert-ref-snapshot-id":
            cur = (meta.get("refs", {}).get(r.get("ref")) or {}).get("snapshot-id")
            if cur != r.get("snapshot-id"):
                raise _Conflict(
                    f"ref {r.get('ref')}: expected {r.get('snapshot-id')}, is {cur}"
                )
        elif t == "assert-current-schema-id":
            if meta.get("current-schema-id") != r.get("current-schema-id"):
                raise _Conflict("current schema id moved")
        elif t == "assert-last-assigned-field-id":
            if meta.get("last-column-id", 0) != r.get("last-assigned-field-id"):
                raise _Conflict("last assigned field id moved")
        elif t == "assert-last-assigned-partition-id":
            lpid = max(
                (
                    int(f.get("field-id", 999))
                    for s in meta.get("partition-specs", [])
                    for f in s.get("fields", [])
                ),
                default=999,
            )
            if lpid != r.get("last-assigned-partition-id"):
                raise _Conflict("last assigned partition id moved")
        elif t == "assert-default-spec-id":
            if meta.get("default-spec-id") != r.get("default-spec-id"):
                raise _Conflict("default spec id moved")
        elif t == "assert-default-sort-order-id":
            if meta.get("default-sort-order-id") != r.get("default-sort-order-id"):
                raise _Conflict("default sort order id moved")
        else:
            raise _Conflict(f"unknown requirement type: {t}")


def _apply_updates(meta: dict, updates: list[dict]) -> dict:
    """Spec TableUpdate application over a copy of ``meta``, deriving the
    derived fields the way a real catalog does."""
    m = json.loads(json.dumps(meta))  # deep copy
    added_snapshot_ids = set()
    for u in updates:
        a = u.get("action")
        if a == "assign-uuid":
            m["table-uuid"] = u["uuid"]
        elif a == "upgrade-format-version":
            m["format-version"] = u["format-version"]
        elif a == "set-location":
            m["location"] = u["location"]
        elif a == "add-schema":
            s = u["schema"]
            if s["schema-id"] not in {x["schema-id"] for x in m.get("schemas", [])}:
                m["schemas"] = m.get("schemas", []) + [s]
            m["last-column-id"] = max(
                m.get("last-column-id", 0),
                u.get("last-column-id") or 0,
                _max_field_id(s),
            )
        elif a == "set-current-schema":
            m["current-schema-id"] = u["schema-id"]
        elif a == "add-spec":
            s = u["spec"]
            if s["spec-id"] not in {x["spec-id"] for x in m.get("partition-specs", [])}:
                m["partition-specs"] = m.get("partition-specs", []) + [s]
        elif a == "set-default-spec":
            m["default-spec-id"] = u["spec-id"]
        elif a == "add-sort-order":
            o = u["sort-order"]
            if o["order-id"] not in {x["order-id"] for x in m.get("sort-orders", [])}:
                m["sort-orders"] = m.get("sort-orders", []) + [o]
        elif a == "set-default-sort-order":
            m["default-sort-order-id"] = u["sort-order-id"]
        elif a == "set-properties":
            m["properties"] = {**m.get("properties", {}), **u["updates"]}
        elif a == "remove-properties":
            props = dict(m.get("properties", {}))
            for k in u["removals"]:
                props.pop(k, None)
            m["properties"] = props
        elif a == "add-snapshot":
            s = u["snapshot"]
            m["snapshots"] = m.get("snapshots", []) + [s]
            added_snapshot_ids.add(s["snapshot-id"])
            m["last-sequence-number"] = max(
                m.get("last-sequence-number", 0), s.get("sequence-number", 0)
            )
            m["last-updated-ms"] = s.get("timestamp-ms", int(time.time() * 1000))
            # v3 row lineage: advance next-row-id by the snapshot's
            # assigned range (first-row-id + added-rows)
            if "first-row-id" in s:
                added = int(s.get("summary", {}).get("added-rows", 0))
                m["next-row-id"] = max(
                    m.get("next-row-id", 0), s["first-row-id"] + added
                )
        elif a == "remove-snapshots":
            gone = set(u["snapshot-ids"])
            m["snapshots"] = [
                s for s in m.get("snapshots", []) if s["snapshot-id"] not in gone
            ]
            m["snapshot-log"] = [
                e for e in m.get("snapshot-log", []) if e["snapshot-id"] not in gone
            ]
        elif a == "set-snapshot-ref":
            name = u["ref-name"]
            ref = {k: v for k, v in u.items() if k not in ("action", "ref-name")}
            refs = dict(m.get("refs", {}))
            refs[name] = ref
            m["refs"] = refs
            if name == "main" and m.get("current-snapshot-id") != ref.get("snapshot-id"):
                m["current-snapshot-id"] = ref.get("snapshot-id")
                by_id = {s["snapshot-id"]: s for s in m.get("snapshots", [])}
                ts = (
                    by_id[ref["snapshot-id"]]["timestamp-ms"]
                    if ref.get("snapshot-id") in added_snapshot_ids
                    and ref.get("snapshot-id") in by_id
                    else int(time.time() * 1000)
                )
                m["snapshot-log"] = m.get("snapshot-log", []) + [
                    {"snapshot-id": ref.get("snapshot-id"), "timestamp-ms": ts}
                ]
        elif a == "remove-snapshot-ref":
            refs = dict(m.get("refs", {}))
            refs.pop(u["ref-name"], None)
            m["refs"] = refs
        elif a in ("set-statistics", "set-partition-statistics"):
            field = "statistics" if a == "set-statistics" else "partition-statistics"
            entry = u[field]
            sid = u.get("snapshot-id", entry.get("snapshot-id"))
            m[field] = [
                e for e in m.get(field, []) if e.get("snapshot-id") != sid
            ] + [entry]
        elif a in ("remove-statistics", "remove-partition-statistics"):
            field = (
                "statistics" if a == "remove-statistics" else "partition-statistics"
            )
            m[field] = [
                e
                for e in m.get(field, [])
                if e.get("snapshot-id") != u.get("snapshot-id")
            ]
        elif a == "add-encryption-key":
            k = u["encryption-key"]
            keys = dict(m.get("encryption-keys", {}))
            keys[k["key-id"]] = k.get("value")
            m["encryption-keys"] = keys
        elif a == "remove-encryption-key":
            keys = dict(m.get("encryption-keys", {}))
            keys.pop(u["key-id"], None)
            m["encryption-keys"] = keys
        else:
            raise _Conflict(f"unknown update action: {a}")
    return m


def _initial_metadata(body: dict, location: str) -> dict:
    """Build the initial metadata document from a spec CreateTableRequest
    (the server assigns the UUID, as in the real protocol)."""
    props = dict(body.get("properties") or {})
    fv = int(props.pop("format-version", 2))
    schema = body.get("schema") or {"type": "struct", "schema-id": 0, "fields": []}
    spec = body.get("partition-spec") or {"spec-id": 0, "fields": []}
    order = body.get("write-order") or {"order-id": 0, "fields": []}
    return {
        "format-version": fv,
        "table-uuid": str(uuid_mod.uuid4()),
        "location": location,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": _max_field_id(schema),
        "schemas": [schema],
        "current-schema-id": schema.get("schema-id", 0),
        "partition-specs": [spec],
        "default-spec-id": spec.get("spec-id", 0),
        "sort-orders": [order],
        "default-sort-order-id": order.get("order-id", 0),
        "properties": props,
        "current-snapshot-id": None,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
        "refs": {},
        "next-row-id": 0,
        "statistics": [],
        "partition-statistics": [],
        "encryption-keys": {},
    }


def _split_ns(enc: str) -> tuple:
    return tuple(urllib.parse.unquote(enc).split(_NS_SEP))


class _Handler(BaseHTTPRequestHandler):
    state: _State
    required_token: str | None = None

    # -- plumbing ----------------------------------------------------------
    def log_message(self, *a):  # silence
        pass

    def _send(self, status: int, body: dict | None = None):
        data = json.dumps(body or {}).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        if self.command != "HEAD":
            self.wfile.write(data)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        if not n:
            return {}
        raw = self.rfile.read(n).decode()
        ctype = self.headers.get("Content-Type", "")
        if "json" in ctype:
            return json.loads(raw)
        return dict(urllib.parse.parse_qsl(raw))

    def _auth_ok(self) -> bool:
        if self.required_token is None:
            return True
        if self.path.endswith("/v1/oauth/tokens"):
            return True
        return self.headers.get("Authorization") == f"Bearer {self.required_token}"

    def _route(self):
        if not self._auth_ok():
            return self._send(401, {"error": "unauthorized"})
        path, _, query = self.path.partition("?")
        params = dict(urllib.parse.parse_qsl(query))
        m = self.command
        s = self.state
        with s.lock:
            # config + oauth
            if path == "/v1/config" and m == "GET":
                return self._send(200, {"defaults": {}, "overrides": {"prefix": "main"}})
            if path == "/v1/oauth/tokens" and m == "POST":
                body = self._body()
                if body.get("grant_type") != "client_credentials":
                    return self._send(400, {"error": "unsupported grant"})
                return self._send(
                    200,
                    {
                        "access_token": f"oauth-{body.get('client_id')}",
                        "token_type": "bearer",
                    },
                )
            if not path.startswith("/v1/main/"):
                return self._send(404, {"error": "unknown prefix"})
            rest = path[len("/v1/main/"):]

            # namespaces collection
            if rest == "namespaces" and m == "GET":
                parent = tuple(params["parent"].split(_NS_SEP)) if params.get("parent") else ()
                if parent and parent not in s.namespaces:
                    return self._send(404, {"error": "no such namespace"})
                out = [
                    list(ns)
                    for ns in s.namespaces
                    if len(ns) == len(parent) + 1 and ns[: len(parent)] == parent
                ]
                return self._send(200, {"namespaces": out})
            if rest == "namespaces" and m == "POST":
                body = self._body()
                ns = tuple(body["namespace"])
                if ns in s.namespaces:
                    return self._send(409, {"error": "namespace exists"})
                if len(ns) > 1 and ns[:-1] not in s.namespaces:
                    return self._send(404, {"error": "no parent namespace"})
                s.namespaces[ns] = dict(body.get("properties") or {})
                return self._send(200, {"namespace": list(ns), "properties": s.namespaces[ns]})

            # tables/rename
            if rest == "tables/rename" and m == "POST":
                body = self._body()
                src = (*body["source"]["namespace"], body["source"]["name"])
                dst = (*body["destination"]["namespace"], body["destination"]["name"])
                if src not in s.tables:
                    return self._send(404, {"error": "no such table"})
                if dst[:-1] not in s.namespaces:
                    return self._send(404, {"error": "no such namespace"})
                if dst in s.tables:
                    return self._send(409, {"error": "table exists"})
                s.tables[dst] = s.tables.pop(src)
                return self._send(200, {})

            # namespace-scoped
            mm = re.match(r"^namespaces/([^/]+)$", rest)
            if mm:
                ns = _split_ns(mm.group(1))
                if ns not in s.namespaces:
                    return self._send(404, {"error": "no such namespace"})
                if m in ("GET", "HEAD"):
                    return self._send(
                        200, {"namespace": list(ns), "properties": s.namespaces[ns]}
                    )
                if m == "DELETE":
                    has_child = any(
                        n[: len(ns)] == ns and len(n) > len(ns) for n in s.namespaces
                    )
                    has_tbl = any(t[:-1] == ns for t in s.tables)
                    if has_child or has_tbl:
                        return self._send(409, {"error": "namespace not empty"})
                    del s.namespaces[ns]
                    return self._send(200)
            mm = re.match(r"^namespaces/([^/]+)/properties$", rest)
            if mm and m == "POST":
                ns = _split_ns(mm.group(1))
                if ns not in s.namespaces:
                    return self._send(404, {"error": "no such namespace"})
                # spec UpdateNamespacePropertiesRequest: apply the
                # removals, then merge the updates
                body = self._body()
                for k in body.get("removals", []):
                    s.namespaces[ns].pop(k, None)
                s.namespaces[ns].update(body.get("updates") or {})
                return self._send(200, {})
            mm = re.match(r"^namespaces/([^/]+)/tables$", rest)
            if mm:
                ns = _split_ns(mm.group(1))
                if ns not in s.namespaces:
                    return self._send(404, {"error": "no such namespace"})
                if m == "GET":
                    idents = [
                        {"namespace": list(t[:-1]), "name": t[-1]}
                        for t in s.tables
                        if t[:-1] == ns
                    ]
                    return self._send(200, {"identifiers": idents})
                if m == "POST":  # spec CreateTableRequest
                    body = self._body()
                    ident = (*ns, body["name"])
                    if ident in s.tables:
                        return self._send(409, {"error": "table exists"})
                    loc = body.get("location") or "/".join(
                        [s.warehouse.rstrip("/"), *ident]
                    )
                    s.tables[ident] = {
                        "location": loc,
                        "metadata": _initial_metadata(body, loc),
                        "version": 1,
                    }
                    return self._send(200, self._table_doc(ident))
            mm = re.match(r"^namespaces/([^/]+)/register$", rest)
            if mm and m == "POST":
                # spec RegisterTableRequest: the SERVER loads the metadata
                # document from the given metadata-location
                ns = _split_ns(mm.group(1))
                if ns not in s.namespaces:
                    return self._send(404, {"error": "no such namespace"})
                body = self._body()
                ident = (*ns, body["name"])
                if ident in s.tables:
                    return self._send(409, {"error": "table exists"})
                mloc = body["metadata-location"]
                try:
                    with open(mloc) as f:
                        meta = json.load(f)
                except OSError:
                    return self._send(404, {"error": f"no metadata at {mloc}"})
                vm = re.search(r"v(\d+)(?:\.metadata)?\.json$", mloc)
                s.tables[ident] = {
                    "location": meta.get("location"),
                    "metadata": meta,
                    "version": int(vm.group(1)) if vm else 1,
                }
                return self._send(200, self._table_doc(ident))
            mm = re.match(r"^namespaces/([^/]+)/tables/([^/]+)$", rest)
            if mm:
                ns = _split_ns(mm.group(1))
                name = urllib.parse.unquote(mm.group(2))
                ident = (*ns, name)
                if ident not in s.tables:
                    return self._send(404, {"error": "no such table"})
                if m in ("GET", "HEAD"):
                    return self._send(200, self._table_doc(ident))
                if m == "DELETE":
                    del s.tables[ident]
                    return self._send(200)
                if m == "POST":  # spec CommitTableRequest
                    body = self._body()
                    t = s.tables[ident]
                    try:
                        _check_requirements(
                            t["metadata"], body.get("requirements", []), exists=True
                        )
                        new_meta = _apply_updates(
                            t["metadata"], body.get("updates", [])
                        )
                    except _Conflict as exc:
                        return self._send(409, {"error": str(exc)})
                    # metadata-log: previous document location, as a real
                    # catalog records on commit; only snapshot-producing
                    # commits append (matching the engine's FS behavior)
                    if any(
                        u.get("action") == "add-snapshot"
                        for u in body.get("updates", [])
                    ):
                        new_meta["metadata-log"] = new_meta.get(
                            "metadata-log", []
                        ) + [
                            {
                                "metadata-file": self._metadata_location(ident),
                                "timestamp-ms": t["metadata"].get(
                                    "last-updated-ms", 0
                                ),
                            }
                        ]
                    else:
                        new_meta["last-updated-ms"] = int(time.time() * 1000)
                    t["metadata"] = new_meta
                    t["version"] = t.get("version", 0) + 1
                    return self._send(200, self._table_doc(ident))
        return self._send(404, {"error": f"unhandled {m} {path}"})

    def _metadata_location(self, ident: tuple) -> str:
        t = self.state.tables[ident]
        return f"{t['location']}/metadata/v{t.get('version', 0)}.metadata.json"

    def _table_doc(self, ident: tuple) -> dict:
        t = self.state.tables[ident]
        return {
            "metadata-location": self._metadata_location(ident),
            "location": t["location"],
            "metadata": t["metadata"],
        }

    do_GET = do_POST = do_DELETE = do_HEAD = _route


class StubRestServer:
    """Context manager: spins the stub on an ephemeral port in a daemon
    thread; ``.uri`` is the base URL to hand to RestCatalog."""

    def __init__(self, warehouse: str = "/tmp", required_token: str | None = None):
        handler = type(
            "BoundHandler",
            (_Handler,),
            {"state": _State(warehouse), "required_token": required_token},
        )
        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        self.uri = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)

    def __enter__(self) -> "StubRestServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
