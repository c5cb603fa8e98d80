#!/usr/bin/env python
"""SURVEY §2 coverage matrix: map every reference operator row to its
implementation in this repo, VERIFIED at generation time — a `code:` ref
must import and resolve, a `query:` ref must exist in the registry (oracle
presence recorded), a `test:` ref must name a test that exists in the file.

Writes COVERAGE.md (committed).  Exit 1 if any claim fails to verify, so a
stale matrix cannot survive CI.  Usage: python tools/coverage_report.py
"""

from __future__ import annotations

import importlib
import re
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

# (SURVEY §2 row, refs).  Ref kinds:
#   code:module:attr      implementation symbol
#   query:name            registry entry (oracle status auto-annotated)
#   test:path:testname    covering test
#   doc:text              documented scope decision (no code claim)
CHECKLIST: list[tuple[str, str, list[str]]] = [
    # §2.1 scans / sources / sinks
    ("§2.1", "gen_flight_bench", [
        "code:arrow_experiments_spark.sources.generators:gen_flight_bench",
        "test:tests/test_fixtures_roundtrip.py:test_generator_deterministic",
    ]),
    ("§2.1", "gen_many_types (21-type fixture)", [
        "code:arrow_experiments_spark.sources.generators:gen_many_types",
        "test:tests/test_fixtures_roundtrip.py:test_spark_roundtrip_21_types",
    ]),
    ("§2.1", "gen_trading", [
        "code:arrow_experiments_spark.sources.generators:gen_trading",
    ]),
    ("§2.1", "gen_tickers", [
        "code:arrow_experiments_spark.sources.generators:gen_tickers",
    ]),
    ("§2.1", "gen_ticker_descriptions", [
        "code:arrow_experiments_spark.sources.generators:gen_ticker_descriptions",
    ]),
    ("§2.1", "scan_ipc_stream", [
        "code:arrow_experiments_spark.sources.arrow_ipc:read_ipc_stream",
        "code:arrow_experiments_spark.sources.datasource:ArrowsDataSource",
    ]),
    ("§2.1", "sink_ipc_file", [
        "code:arrow_experiments_spark.sources.arrow_ipc:write_ipc_file",
        "code:arrow_experiments_spark.sources.arrow_ipc:arrows_to_arrow_file",
    ]),
    ("§2.1", "sink_parquet", [
        "code:arrow_experiments_spark.sources.arrow_ipc:arrows_to_parquet",
    ]),
    ("§2.1", "sink_duckdb", [
        "code:arrow_experiments_spark.sources.arrow_ipc:parquet_to_duckdb",
    ]),
    ("§2.1", "sink_sqlite", [
        "code:arrow_experiments_spark.sources.arrow_ipc:parquet_to_sqlite",
    ]),
    ("§2.1", "pipeline_make", [
        "code:arrow_experiments_spark.sources.arrow_ipc:run_pipeline",
    ]),
    ("§2.1", "scan_git_log + sink_jsonl (arrow-commits)", [
        "code:arrow_experiments_spark.sources.commits:scan_git_log",
        "code:arrow_experiments_spark.sources.commits:write_commits_fixture",
        "test:tests/test_commits.py:test_fixture_roundtrip_and_jsonl",
    ]),
    ("§2.1", "scan_parquet_chunked_gpu", [
        "doc:GPU residency out of scope for CPU Spark (SURVEY §2.5); "
        "chunk sizing maps to maxRecordsPerBatch / file split sizes",
    ]),
    ("§2.1", "source_http_arrow (client)", [
        "code:arrow_experiments_spark.transport.client:fetch_arrow",
        "code:arrow_experiments_spark.sources.datasource:register_arrows_source",
        "test:tests/test_datasource.py:test_http_single_url",
    ]),
    ("§2.1", "source_http_indirect (catalog)", [
        "code:arrow_experiments_spark.transport.client:fetch_indirect",
        "test:tests/test_datasource.py:test_catalog_fanout",
    ]),
    ("§2.1", "source_http_range (+ resume)", [
        "code:arrow_experiments_spark.transport.client:fetch_range",
        "code:arrow_experiments_spark.transport.client:fetch_resume",
        "test:tests/test_transport.py:test_resume_fetch",
    ]),
    ("§2.1", "range-partitioned IPC-file ingest (one task per block range)", [
        "code:arrow_experiments_spark.sources.datasource:_HttpRangeFile",
        "test:tests/test_datasource.py:test_ipc_file_http_range_partitioned",
        "test:tests/test_datasource.py:test_ipc_file_local_splits",
    ]),
    # §2.2 projections / filters / transforms
    ("§2.2", "slice(batch, offset, len)", [
        "query:slice_offset_limit",
        "code:arrow_experiments_spark.transport.server:project_reader",
    ]),
    ("§2.2", "take(values, indices)", [
        "code:arrow_experiments_spark.sources.generators:gen_trading",
    ]),
    ("§2.2", "dictionary_encode", [
        "code:arrow_experiments_spark.sources.arrow_ipc:dictionary_encode_columns",
        "test:tests/test_transport.py:test_dictionary_encoded_egress",
    ]),
    ("§2.2", "drop_column", [
        "code:arrow_experiments_spark.sources.commits:build_commits_table",
        "code:arrow_experiments_spark.transport.server:project_reader",
    ]),
    ("§2.2", "tz_normalize", [
        "code:arrow_experiments_spark.sources.commits:build_commits_table",
    ]),
    ("§2.2", "first_line(message)", [
        "code:arrow_experiments_spark.sources.commits:build_commits_table",
    ]),
    ("§2.2", "rebatch(n)", [
        "code:arrow_experiments_spark.transport.server:rebatch_reader",
        "test:tests/test_transport.py:test_rebatch_param",
    ]),
    ("§2.2", "concat/read_all", [
        "code:arrow_experiments_spark.sources.arrow_ipc:read_ipc_stream",
    ]),
    ("§2.2", "strip_metadata", [
        "code:arrow_experiments_spark.sources.arrow_ipc:strip_schema_metadata",
    ]),
    # §2.3 transport / protocol
    ("§2.3", "ipc_stream_write_incremental", [
        "code:arrow_experiments_spark.transport.ipc_stream:encode_ipc_chunks",
    ]),
    ("§2.3", "http_chunked_encode", [
        "code:arrow_experiments_spark.transport.ipc_stream:write_chunked",
        "test:tests/test_transport.py:test_http10_unchunked",
    ]),
    ("§2.3", "content_type_arrow / content_disposition", [
        "code:arrow_experiments_spark.transport.negotiation:ARROW_STREAM_CONTENT_TYPE",
    ]),
    ("§2.3", "parse_accept_header (RFC-2616 tokenizer)", [
        "code:arrow_experiments_spark.transport.negotiation:parse_list_header",
        "test:tests/test_transport.py:test_parse_list_header_malformed",
    ]),
    ("§2.3", "pick_coding (q-values)", [
        "code:arrow_experiments_spark.transport.negotiation:choose_content_coding",
        "test:tests/test_transport.py:test_choose_content_coding",
    ]),
    ("§2.3", "pick_ipc_codec", [
        "code:arrow_experiments_spark.transport.negotiation:choose_ipc_codec",
        "test:tests/test_transport.py:test_choose_ipc_codec",
    ]),
    ("§2.3", "pick_compression (strategy merge)", [
        "code:arrow_experiments_spark.transport.negotiation:choose_strategy",
        "test:tests/test_transport.py:test_choose_strategy_merge",
    ]),
    ("§2.3", "http_compress_body / ipc_buffer_compress / http_decompress", [
        "code:arrow_experiments_spark.transport.ipc_stream:encode_ipc_chunks",
        "code:arrow_experiments_spark.transport.ipc_stream:decode_body",
        "test:tests/test_transport.py:test_encode_decode_roundtrip",
    ]),
    ("§2.3", "chunk_coalesce (64 KiB + eager first chunk)", [
        "code:arrow_experiments_spark.transport.ipc_stream:encode_ipc_chunks",
    ]),
    ("§2.3", "respond_406", [
        "test:tests/test_transport.py:test_406_on_unacceptable",
        "test:tests/test_transport.py:test_406_on_malformed_header",
    ]),
    ("§2.3", "multipart_boundary / multipart_write / multipart_parse", [
        "code:arrow_experiments_spark.transport.multipart:make_boundary",
        "code:arrow_experiments_spark.transport.multipart:encode_multipart",
        "code:arrow_experiments_spark.transport.multipart:parse_multipart",
        "test:tests/test_transport.py:test_multipart",
    ]),
    ("§2.3", "serve_catalog_json", [
        "code:arrow_experiments_spark.transport.client:fetch_catalog",
        "test:tests/test_transport.py:test_catalog_and_indirect",
    ]),
    ("§2.3", "serve_range (Content-Length + Accept-Ranges)", [
        "test:tests/test_transport.py:test_range_fetch",
        "test:tests/test_transport.py:test_range_suffix_and_416",
    ]),
    ("§2.3", "post_simple / post_multipart (README-only in reference)", [
        "test:tests/test_transport.py:test_post_ingest_roundtrip",
        "code:arrow_experiments_spark.transport.multipart:encode_form_data",
        "code:arrow_experiments_spark.transport.client:post_arrow",
        "test:tests/test_transport.py:test_post_multipart_ingest_roundtrip",
    ]),
    ("§2.2", "partition-routed writes / small-file compaction (layout hygiene)", [
        "code:arrow_experiments_spark.operators.scale:write_partitioned",
        "code:arrow_experiments_spark.operators.scale:compact_parquet",
        "test:tests/test_scale.py:test_write_partitioned_one_file_per_partition",
        "test:tests/test_scale.py:test_compact_parquet_reduces_file_count",
    ]),
    ("§2.2", "Z-order clustered writes (multi-dimensional data skipping)", [
        "code:arrow_experiments_spark.operators.scale:zorder_key",
        "code:arrow_experiments_spark.operators.scale:write_zordered",
        "test:tests/test_scale.py:test_zorder_write_prunes_both_dimensions",
    ]),
    ("§2.3", "bounded-memory Spark egress (JVM Arrow batches / executor spill)", [
        "code:arrow_experiments_spark.sources.arrow_ipc:df_to_reader",
        "code:arrow_experiments_spark.sources.arrow_ipc:spill_dataframe",
        "test:tests/test_egress.py:test_spill_driver_memory_is_bounded",
        "test:tests/test_egress.py:test_global_order_preserved",
    ]),
    ("§2.3", "cors_headers (latent)", [
        "code:arrow_experiments_spark.transport.server:ArrowHttpHandler",
    ]),
    ("§2.3", "serve-time projection/limit/rebatch (engine extension)", [
        "code:arrow_experiments_spark.transport.server:project_reader",
        "test:tests/test_transport.py:test_projection_and_limit",
    ]),
    # §2.4 client consumption & metrics
    ("§2.4", "stream_read_batches / incremental_decode", [
        "code:arrow_experiments_spark.transport.client:fetch_arrow",
    ]),
    ("§2.4", "client_metrics (elapsed 2dp + batches)", [
        "code:arrow_experiments_spark.transport.client:FetchMetrics",
    ]),
    ("§2.4", "phase_metrics (schema / first batch / reader.stats)", [
        "test:tests/test_transport.py:test_fetch_metrics_ipc_stats",
    ]),
    ("§2.4", "keepalive_off (Connection: close)", [
        "code:arrow_experiments_spark.transport.client:fetch_arrow",
        "test:tests/test_transport.py:test_fetch_close_connection",
    ]),
    # §2.5 dissociated IPC
    ("§2.5", "flight_get_info (describe endpoint)", [
        "test:tests/test_transport.py:test_describe",
        "test:tests/test_transport.py:test_dissociated_endpoints_advertised",
    ]),
    ("§2.5", "metadata_stream_send (seq-numbered)", [
        "code:arrow_experiments_spark.transport.dissociated:encode_meta_stream",
    ]),
    ("§2.5", "body_stream_send (tagged, 8-byte aligned)", [
        "code:arrow_experiments_spark.transport.dissociated:encode_body_stream",
        "test:tests/test_transport.py:test_dissociated_wire_format",
    ]),
    ("§2.5", "stream_reassemble", [
        "code:arrow_experiments_spark.transport.dissociated:reassemble",
        "test:tests/test_transport.py:test_dissociated_roundtrip",
    ]),
    ("§2.5", "ucx_conn (tagged probe/mask recv, AM + IOV sends, 2 GiB guard)", [
        "code:arrow_experiments_spark.transport.sockets:SocketConn",
        "test:tests/test_sockets.py:test_tag_probe_out_of_order_claims",
        "test:tests/test_sockets.py:test_tag_probe_mask_semantics",
        "test:tests/test_sockets.py:test_am_2gib_guard_send_and_recv",
        "doc:TCP analog of the UCX messaging semantics; RDMA itself out of scope",
    ]),
    ("§2.5", "ucx_server (listener → pending queue → worker per client)", [
        "code:arrow_experiments_spark.transport.sockets:SocketServer",
        "test:tests/test_sockets.py:test_server_worker_per_client",
        "test:tests/test_sockets.py:test_graceful_shutdown_mid_session",
    ]),
    ("§2.5", "ucx_client (+ want_data handshake, two-loop reassembly)", [
        "code:arrow_experiments_spark.transport.sockets:connect",
        "code:arrow_experiments_spark.transport.sockets:fetch_dissociated_sockets",
        "test:tests/test_sockets.py:test_dissociated_sockets_roundtrip",
        "test:tests/test_sockets.py:test_dissociated_sockets_streaming_order",
        "test:tests/test_sockets.py:test_dissociated_sockets_taxi_scenario",
    ]),
    ("§2.5", "gpu_residency", [
        "doc:out of scope for CPU PySpark (SURVEY §2.5, §3.3)",
    ]),
    ("§2.5", "main_dispatch (CLI serve/fetch, both transports)", [
        "code:arrow_experiments_spark.__main__:main",
        "test:tests/test_cli.py:test_cli_serve_catalog_and_dataset",
        "test:tests/test_cli.py:test_cli_fetch_prints_metrics",
        "test:tests/test_cli.py:test_cli_serve_and_fetch_sockets",
    ]),
]


def verify_ref(ref: str, queries) -> tuple[bool, str]:
    kind, _, rest = ref.partition(":")
    if kind == "code":
        mod_name, _, attr = rest.rpartition(":")
        try:
            mod = importlib.import_module(mod_name)
            getattr(mod, attr)
        except (ImportError, AttributeError) as e:
            return False, f"`{rest}` FAILED: {e}"
        return True, f"`{mod_name}.{attr}`"
    if kind == "query":
        if rest not in queries:
            return False, f"query `{rest}` NOT REGISTERED"
        tag = "oracle" if queries[rest].oracle else "rows-only"
        return True, f"query `{rest}` ({tag})"
    if kind == "test":
        path, _, test_name = rest.rpartition(":")
        f = _REPO / path
        if not f.exists():
            return False, f"test file `{path}` MISSING"
        if not re.search(rf"def {re.escape(test_name)}\b", f.read_text()):
            return False, f"test `{test_name}` NOT IN `{path}`"
        return True, f"`{path}::{test_name}`"
    if kind == "doc":
        return True, rest
    return False, f"unknown ref kind `{kind}`"


def main() -> None:
    from arrow_experiments_spark.registry import all_queries

    queries = all_queries()
    failures: list[str] = []
    lines = [
        "# COVERAGE — SURVEY §2 operator inventory → implementation\n",
        "Generated and VERIFIED by `tools/coverage_report.py` (every code",
        "ref imports, every query ref is registered, every test ref exists;",
        "the tool exits nonzero otherwise).  §2.6 is enumerated from the",
        "live query registry below the matrix.\n",
        "| § | reference op | implementation |",
        "|---|---|---|",
    ]
    for sec, op, refs in CHECKLIST:
        rendered = []
        for ref in refs:
            ok, text = verify_ref(ref, queries)
            if not ok:
                failures.append(f"{sec} {op}: {text}")
            rendered.append(text)
        lines.append(f"| {sec} | {op} | {'; '.join(rendered)} |")

    lines.append("\n## §2.6 declared query surface (from the registry)\n")
    by_cat: dict[str, list] = {}
    for q in queries.values():
        by_cat.setdefault(q.category, []).append(q)
    for cat in sorted(by_cat):
        qs = sorted(by_cat[cat], key=lambda q: q.name)
        n_oracle = sum(1 for q in qs if q.oracle)
        lines.append(
            f"- **{cat}** ({len(qs)} queries, {n_oracle} with DuckDB oracle): "
            + ", ".join(
                f"`{q.name}`" + ("" if q.oracle else " (rows-only)") for q in qs
            )
        )
    lines.append(
        f"\nTotal: {len(queries)} queries, "
        f"{sum(1 for q in queries.values() if q.oracle)} oracle-checked.\n"
    )
    (_REPO / "COVERAGE.md").write_text("\n".join(lines))
    if failures:
        print("FAILURES:", *failures, sep="\n  ")
        sys.exit(1)
    print(f"coverage ok — COVERAGE.md written ({len(CHECKLIST)} rows)")


if __name__ == "__main__":
    main()
