"""Stdlib HTTP search endpoint + S3 ListBucketResult XML rendering.

Protocol (mirrors the reference's client tooling, not its plumbing):

  GET /<bucket>?search=<sql-where>[&limit=N][&start-after=K][&format=f]

  * ``format=xml`` (default): an S3 ListObjects-style ``ListBucketResult``
    document in the ``http://s3.amazonaws.com/doc/2006-03-01/`` namespace
    -- ``<Contents><Key/><LastModified/><ETag/><Size/><StorageClass/>
    <Owner><ID/><DisplayName/></Owner></Contents>`` per result row, plus
    ``IsTruncated`` and (when truncated) ``NextStartAfter`` carrying the
    keyset cursor (our pagination is keyset, so the continuation token IS
    the last key; ref client parse: bin/perf_test.py:123-127).
  * ``format=json``: the executor's stdout/Livy JSON-array contract
    verbatim (ref: MetadataQueryExecutor.scala:52-59).

Errors are S3-shaped XML: a malformed ``search`` expression returns
HTTP 400 ``InvalidArgument`` (CloudServer's behavior for a bad search
string); unknown paths return 400 ``InvalidRequest``. An empty or
unknown bucket returns an EMPTY listing, matching the engine semantics
pinned in tests/test_merge_query.py (the store cannot distinguish
"never existed" from "compacted away and purged", so 404 would lie).

Scale note: the server is a thin driver-side shim -- each request
builds one executor plan and materializes one page (``limit`` rows,
keyset-bounded), so response size is page-sized regardless of corpus
size. An executor wired by ``config.build_engine`` already sits behind
the bucket cache manager (operators/cache.py), as the reference's Livy
session reuses its SessionCacheManager.

Security: the ``search`` predicate is an arbitrary Spark SQL boolean
expression, the same language the reference exposes -- but the
reference exposes it only behind CloudServer's AUTHENTICATED S3
endpoint. This server carries no authentication, so (a) predicates
naming JVM-escape functions (``reflect`` / ``java_method`` -- arbitrary
static-method invocation on the driver) are rejected with HTTP 403
``AccessDenied`` before any plan is built, and (b) a non-loopback bind
(``host="0.0.0.0"``) MUST sit behind an authenticating reverse proxy,
exactly like the reference sits behind CloudServer.
"""

from __future__ import annotations

import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse
from xml.sax.saxutils import escape

from pyspark.errors import AnalysisException, ParseException

from clueso_spark.operators.query import MetadataQuery, MetadataQueryExecutor

S3_NS = "http://s3.amazonaws.com/doc/2006-03-01/"

#: Spark SQL functions an unauthenticated predicate must never invoke:
#: all call arbitrary JVM static methods on the driver. Matched as
#: whole identifiers, case-insensitively, with backticks stripped first
#: (`` `reflect` (...)`` parses to the same call as ``reflect(...)``),
#: so neither quoting nor spacing hides the name. A string LITERAL that
#: merely contains the word is also rejected -- deliberate overblocking:
#: this is a security boundary and the words are not plausible keys.
#: NOTE ``try_reflect`` is listed on its own: ``_`` is a word character,
#: so ``\breflect\b`` does NOT match inside ``try_reflect`` -- the
#: try-variant (Spark 3.5+, TryReflect) would sail through a
#: reflect-only list.
#: This list is NOT maintained by hand against release notes: a
#: registry audit test (tests/test_server.py::
#: test_denylist_covers_every_registered_reflection_function) asserts
#: at every run that ALL functions the live Spark session registers
#: with a reflection-backed expression class are covered, so a Spark
#: upgrade that adds another driver-escape name fails the suite loudly
#: instead of silently reopening the surface.
DENIED_PREDICATE_FUNCTIONS = ("reflect", "java_method", "try_reflect")

_DENIED_RE = re.compile(
    r"\b(" + "|".join(DENIED_PREDICATE_FUNCTIONS) + r")\b", re.IGNORECASE
)


def denied_predicate_token(where: str) -> str | None:
    """The first denied function name appearing in ``where``, or None."""
    m = _DENIED_RE.search(where.replace("`", ""))
    return m.group(1).lower() if m else None

#: hard per-request page cap (S3 itself clamps MaxKeys at 1000); a
#: larger ask is silently clamped, matching S3's behavior
MAX_PAGE_KEYS = 10_000

#: RESULT_COLS -> S3 Contents field mapping (schemas.RESULT_COLS; the
#: reference's fixed 8-column projection, ref: CluesoConstants.scala:71-79)
_XML_HEADER = '<?xml version="1.0" encoding="UTF-8"?>\n'


def _content_xml(row: dict) -> str:
    md5 = row.get("content-md5") or ""
    return (
        "<Contents>"
        f"<Key>{escape(str(row.get('key', '')))}</Key>"
        f"<LastModified>{escape(str(row.get('last-modified') or ''))}"
        "</LastModified>"
        f"<ETag>&quot;{escape(md5)}&quot;</ETag>"
        f"<Size>{row.get('content-length') or 0}</Size>"
        f"<StorageClass>{escape(str(row.get('x-amz-storage-class') or 'STANDARD'))}"
        "</StorageClass>"
        "<Owner>"
        f"<ID>{escape(str(row.get('owner-id') or ''))}</ID>"
        f"<DisplayName>{escape(str(row.get('owner-display-name') or ''))}"
        "</DisplayName>"
        "</Owner>"
        "</Contents>"
    )


def s3_xml_listing(
    bucket: str,
    rows: list[dict],
    *,
    prefix_expr: str = "",
    max_keys: int,
    truncated: bool,
) -> str:
    """Render one result page as an S3 ListBucketResult document."""
    parts = [
        _XML_HEADER,
        f'<ListBucketResult xmlns="{S3_NS}">',
        f"<Name>{escape(bucket)}</Name>",
        f"<Prefix>{escape(prefix_expr)}</Prefix>",
        f"<KeyCount>{len(rows)}</KeyCount>",
        f"<MaxKeys>{max_keys}</MaxKeys>",
        f"<IsTruncated>{'true' if truncated else 'false'}</IsTruncated>",
    ]
    parts.extend(_content_xml(r) for r in rows)
    if truncated and rows:
        parts.append(
            f"<NextStartAfter>{escape(str(rows[-1]['key']))}</NextStartAfter>"
        )
    parts.append("</ListBucketResult>")
    return "".join(parts)


def _error_xml(code: str, message: str) -> str:
    return (
        _XML_HEADER
        + "<Error>"
        + f"<Code>{escape(code)}</Code>"
        + f"<Message>{escape(message)}</Message>"
        + "</Error>"
    )


class _Handler(BaseHTTPRequestHandler):
    # the executor/server pair is attached by SearchServer
    server_version = "clueso-spark-search/1.0"

    def log_message(self, fmt, *args):  # quiet: tests assert on payloads
        pass

    def _send(self, status: int, body: str, content_type: str):
        data = body.encode()
        self.send_response(status)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self):  # noqa: N802 (stdlib handler contract)
        url = urlparse(self.path)
        bucket = unquote(url.path.strip("/"))
        if not bucket or "/" in bucket:
            self._send(
                400,
                _error_xml(
                    "InvalidRequest", "expected GET /<bucket>?search=..."
                ),
                "application/xml",
            )
            return
        q = parse_qs(url.query)
        where = q.get("search", [""])[0]
        start_after = q.get("start-after", [None])[0]
        try:
            limit = int(q.get("limit", ["1000"])[0])
        except ValueError:
            self._send(
                400,
                _error_xml("InvalidArgument", "limit must be an integer"),
                "application/xml",
            )
            return
        fmt = q.get("format", ["xml"])[0]
        if limit < 0 or (fmt == "json" and limit > MAX_PAGE_KEYS):
            # negative: S3 rejects negative MaxKeys (a silent 0-clamp
            # would 200 an empty listing indistinguishable from an empty
            # bucket). Oversized JSON asks are rejected too: the JSON
            # array carries NO truncation marker, so a silent clamp
            # would make a clamped page look like the final page and
            # break 'len < limit' pagination-termination clients.
            self._send(
                400,
                _error_xml(
                    "InvalidArgument",
                    f"limit must be in [0, {MAX_PAGE_KEYS}]"
                    if fmt == "json"
                    else "limit must be non-negative",
                ),
                "application/xml",
            )
            return
        # the XML path clamps silently like S3 clamps MaxKeys (cap
        # 10x S3's 1000): the clamp IS signaled -- MaxKeys reports the
        # effective value and IsTruncated the continuation. Either way
        # one unauthenticated request can never collect() an unbounded
        # page onto the driver.
        limit = min(limit, MAX_PAGE_KEYS)
        denied = denied_predicate_token(where)
        if denied is not None:
            # JVM-escape functions (arbitrary static-method invocation on
            # the driver) are never legal on this unauthenticated surface;
            # reject before any Spark plan exists (ADVICE r9, medium)
            self._send(
                403,
                _error_xml(
                    "AccessDenied",
                    f"predicate function '{denied}' is not permitted",
                ),
                "application/xml",
            )
            return
        ex: MetadataQueryExecutor = self.server.executor  # type: ignore[attr-defined]
        try:
            if fmt == "json":
                query = MetadataQuery(bucket, where, start_after, limit)
                self._send(200, ex.execute_json(query), "application/json")
                return
            # executor-level instrumentation: the XML path gets the same
            # per-bucket metrics as execute_json, from ONE place.
            # limit+1 probe: IsTruncated must reflect whether MORE rows
            # exist, not whether this page happens to be exactly full --
            # a result set sized an exact multiple of limit previously
            # advertised a NextStartAfter cursor to a final empty page
            # (ADVICE r9, low). limit == 0 stays an empty un-truncated
            # listing (no cursor could accompany the signal anyway).
            probe = MetadataQuery(
                bucket, where, start_after, limit + 1 if limit else 0
            )
            rows = [
                r.asDict(recursive=True)
                for r in ex.execute_collected(probe)
            ]
        except (ParseException, AnalysisException) as e:
            self._send(
                400,
                _error_xml("InvalidArgument", str(e).split("\n")[0]),
                "application/xml",
            )
            return
        except Exception as e:  # noqa: BLE001 -- any engine error must
            # still produce an S3-shaped HTTP response: under ANSI mode a
            # predicate that parses and analyzes can throw at RUNTIME
            # (cast overflow, divide-by-zero), and an uncaught exception
            # here aborts the socket with no response at all
            self._send(
                500,
                _error_xml("InternalError", str(e).split("\n")[0]),
                "application/xml",
            )
            return
        truncated = len(rows) > limit
        body = s3_xml_listing(
            bucket,
            rows[:limit],
            prefix_expr=where,
            max_keys=limit,
            truncated=truncated,
        )
        self._send(200, body, "application/xml")


class SearchServer:
    """Threaded HTTP search endpoint over one MetadataQueryExecutor.

    ``with SearchServer(executor) as srv: url = srv.url`` -- binds an
    ephemeral loopback port by default. A network-facing deployment
    (``host="0.0.0.0"``) MUST sit behind an authenticating reverse
    proxy: the endpoint itself is unauthenticated (see module
    docstring; the reference only exposes the predicate language behind
    CloudServer's authenticated S3 API). Serves on a daemon thread,
    shuts down on exit. One Spark driver hosts it; requests share the driver's
    SparkSession exactly as the reference's long-lived Livy session
    serves successive search submissions."""

    def __init__(
        self,
        executor: MetadataQueryExecutor,
        port: int = 0,
        host: str = "127.0.0.1",
    ):
        self._httpd = ThreadingHTTPServer((host, port), _Handler)
        self._httpd.executor = executor  # type: ignore[attr-defined]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def __enter__(self) -> "SearchServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)
