"""ASGI form of the Arrow-over-HTTP egress service.

The reference ships its get_simple server in two deployment postures: a
stdlib ``http.server`` form and a FastAPI/uvicorn form whose handler wraps
the same generator in a ``StreamingResponse``
(http/get_simple/python/server/fastapi_uvicorn/server.py:60-75).  This
module is the engine's second posture: a dependency-free ASGI 3 callable
(the protocol FastAPI/Starlette compile down to) that is only an adapter
over the request core ``server.respond`` — the same routes, negotiation
and replay ladder as the threaded form, one protocol implementation
with two front-ends.

No ASGI framework or server is required to construct or test the app (the
interop tests drive the ASGI protocol directly); ``serve_asgi`` runs it
under uvicorn when that is installed.  Response bodies are produced by the
same synchronous chunk generators the threaded server streams; a real
deployment puts workers in front exactly as FastAPI's ``StreamingResponse``
does with sync generators (anyio thread offload).  Chunked vs
close-delimited framing of streams is the ASGI server's job, so this
module sends only a Content-Length for fixed bodies.
"""

from __future__ import annotations

from email.message import Message

from arrow_experiments_spark.transport.server import DatasetRegistry, respond


def make_asgi_app(registry: DatasetRegistry, cors: bool = False, sql_runner=None):
    """Build the ASGI 3 application fronting ``registry`` — the uvicorn/
    FastAPI-deployable twin of ``serve()``'s threaded handler.  With
    ``sql_runner`` (str -> RecordBatchReader) it also answers
    ``GET /query?sql=...``."""

    async def app(scope, receive, send) -> None:
        if scope["type"] == "lifespan":  # uvicorn startup/shutdown chatter
            while True:
                msg = await receive()
                if msg["type"] == "lifespan.startup":
                    await send({"type": "lifespan.startup.complete"})
                elif msg["type"] == "lifespan.shutdown":
                    await send({"type": "lifespan.shutdown.complete"})
                    return
        if scope["type"] != "http":
            raise RuntimeError(f"unsupported scope type: {scope['type']}")
        headers = Message()  # case-insensitive .get, as http.server's
        for k, v in scope.get("headers", []):
            headers[k.decode("latin-1")] = v.decode("latin-1")
        body = b""
        while True:
            msg = await receive()
            body += msg.get("body", b"")
            if not msg.get("more_body"):
                break
        resp = respond(
            scope["method"],
            scope["path"],
            scope.get("query_string", b"").decode("latin-1"),
            headers,
            body,
            scope.get("http_version") == "1.0",
            registry=registry,
            cors=cors,
            sql_runner=sql_runner,
        )
        fields = resp.headers
        if resp.length is not None:
            fields = [*fields, ("Content-Length", str(resp.length))]
        await send(
            {
                "type": "http.response.start",
                "status": resp.status,
                "headers": [
                    (k.lower().encode("latin-1"), v.encode("latin-1")) for k, v in fields
                ],
            }
        )
        # ASGI bodies must be bytes: each registry slice pays one copy here
        for chunk in resp.chunks:
            await send({"type": "http.response.body", "body": bytes(chunk), "more_body": True})
        await send({"type": "http.response.body", "body": b"", "more_body": False})

    return app


def serve_asgi(
    registry: DatasetRegistry,
    host: str = "127.0.0.1",
    port: int = 8008,
    cors: bool = False,
    sql_runner=None,
) -> None:
    """Run the ASGI app under uvicorn (the reference's fastapi_uvicorn
    posture).  uvicorn is not part of the engine's pinned environment —
    import is gated; the app itself needs no framework."""
    try:
        import uvicorn
    except ImportError as e:  # pragma: no cover — env-dependent
        raise RuntimeError(
            "serve_asgi requires uvicorn (pip install uvicorn); the "
            "threaded form `serve()` has identical protocol behavior"
        ) from e
    uvicorn.run(
        make_asgi_app(registry, cors=cors, sql_runner=sql_runner),
        host=host,
        port=port,
    )
