"""REST-facing JSON mapping of online-serving responses.

Parity targets:
- ``serving/src/main/java/feast/serving/util/mappers/ResponseJSONMapper.java:28-72``
  — the reference's gRPC→JSON flattener: one map per response row, field
  key → extracted native value, proto-unset values → ``null``;
- ``OnlineServingServiceV2.getOnlineFeatures`` response assembly
  (``OnlineServingServiceV2.java:307-319``): each row carries BOTH a
  ``fields`` map (entity keys + ``table:feature`` refs → values) and a
  ``statuses`` map (same keys → PRESENT / NOT_FOUND / NULL_VALUE /
  OUTSIDE_MAX_AGE), entity fields always PRESENT
  (``OnlineServingServiceTest.java:137-346``, all three status
  scenarios).

This is a DRIVER-SIDE formatter by contract: a serving response is one
request batch (tens–thousands of rows), never a 100 TB frame — the
``collect`` here is the moral equivalent of the reference serializing
its gRPC response; the retrieval plan upstream stays fully distributed.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame

from feast_java_old_spark.operators.retrieval import STATUS_PRESENT

STATUS_SUFFIX = "__status"


def _field_key(vname: str, ref_by_vname: dict[str, str]) -> str:
    """Response key for a value column: the reference emits
    ``table:feature`` refs (FieldValues keys). With the explicit ref
    list the mapping is exact; otherwise fall back to rewriting the
    first ``__`` separator (correct for every table name without a
    double underscore)."""
    if vname in ref_by_vname:
        return ref_by_vname[vname]
    if "__" in vname:
        table, _, feat = vname.partition("__")
        return f"{table}:{feat}"
    return vname


def response_rows(
    df: DataFrame,
    feature_refs: Optional[Sequence[str]] = None,
    max_rows: int = 100_000,
) -> list[dict]:
    """``get_online_features`` / ``serve_online_features`` output →
    the reference's per-row response structure:
    ``[{"fields": {key: value}, "statuses": {key: status}}, ...]``.

    Entity columns (no ``__status`` twin) appear in ``fields`` with
    status PRESENT — the reference marks request entities PRESENT
    unconditionally. Feature keys are ``table:feature`` when the query
    ran with ``full_feature_names`` (the default), bare feature names
    otherwise — pass ``feature_refs`` (the same list given to the
    query) to make the rename exact.
    """
    ref_by_vname: dict[str, str] = {}
    for ref in feature_refs or ():
        table, sep, feat = ref.partition(":")
        if sep:
            ref_by_vname[f"{table}__{feat}"] = ref
            ref_by_vname[feat] = ref
    cols = df.columns
    status_cols = {c for c in cols if c.endswith(STATUS_SUFFIX)}
    value_cols = [
        c for c in cols if c not in status_cols and c + STATUS_SUFFIX in cols
    ]
    # event_timestamp is the request-time INPUT (the EntityRow
    # timestamp), not an entity field — the reference never echoes it
    # into the response's fieldValues.
    entity_cols = [
        c
        for c in cols
        if c not in status_cols
        and c not in value_cols
        and c != "event_timestamp"
    ]
    # Driver-pull guard: a serving response is one request batch (the
    # reference's own latency-histogram design envelope tops out at
    # hundreds of rows, Metrics.java:32-39) — this collect is correct
    # for that. But the function accepts an arbitrary DataFrame, and a
    # mis-wired caller handing it a TABLE would silently pull the table
    # onto the driver; limit(max_rows+1) keeps the pull bounded (the
    # upstream plan is orderBy(__row_idx)-sorted, so the limit is an
    # order-preserving prefix) and turns the mistake into an error.
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"response_rows collected more than max_rows={max_rows} rows "
            "— serving responses are request-batch-sized; for table-"
            "sized output keep the DataFrame distributed"
        )
    out = []
    for row in rows:
        d = row.asDict()
        fields: dict = {}
        statuses: dict = {}
        for c in entity_cols:
            fields[c] = d[c]
            statuses[c] = STATUS_PRESENT
        for c in value_cols:
            key = _field_key(c, ref_by_vname)
            fields[key] = d[c]
            statuses[key] = d[c + STATUS_SUFFIX]
        out.append({"fields": fields, "statuses": statuses})
    return out


def response_to_json(
    df: DataFrame,
    feature_refs: Optional[Sequence[str]] = None,
) -> list[dict]:
    """The ``ResponseJSONMapper.mapGetOnlineFeaturesResponse`` shape:
    one FLAT map per row, field key → native value (no statuses) —
    non-PRESENT fields map to ``None`` exactly as a proto-unset
    ``Value`` extracts to ``null`` in the reference
    (``ResponseJSONMapper.java:44-71``)."""
    return [r["fields"] for r in response_rows(df, feature_refs)]


def serve_logged(
    spark,
    registry,
    entity_rows,
    feature_refs: Sequence[str],
    audit=None,
    identity: str = "",
    metrics=None,
    project: str = "default",
    auth=None,
    authentication=None,
    **kwargs,
) -> list[dict]:
    """``get_online_features`` + response assembly + one MESSAGE audit
    entry — the serving-path twin of the reference's
    ``GrpcMessageInterceptor`` (``interceptors/GrpcMessageInterceptor
    .java:60-98``): the interceptor snapshots the request on the way in,
    the response on the way out, and logs OK calls at INFO / failures at
    ERROR with the status code.

    The logged payloads are SUMMARIES, not the full frames: request =
    the feature refs + entity row count (the reference logs the proto
    verbatim; a JSONL trail that inlines every row would grow with
    traffic, and the *counts* are what a rollup queries), response =
    row count + per-status field counts (PRESENT / NOT_FOUND /
    NULL_VALUE / OUTSIDE_MAX_AGE) — data-dependent, so an audit rollup
    can cross-check serving health against the store.

    Uses ``audit`` if given, else ``registry.audit``; ``metrics`` (a
    :class:`~feast_java_old_spark.plans.metrics.ServingMetrics`) gets
    the full instrument set the reference populates per call —
    request-shape histograms, per-feature NOT_FOUND/stale counters, the
    gRPC request counter and the latency histogram
    (``OnlineServingServiceV2.java:380-427`` +
    ``GrpcMonitoringInterceptor.java:43-56``). Returns the response
    rows (``response_rows`` shape).
    """
    import time as _time

    from feast_java_old_spark.operators.retrieval import get_online_features

    audit = audit if audit is not None else getattr(registry, "audit", None)
    if not identity and authentication is not None:
        # Same best-effort subject extraction as the core controller —
        # the denial trail must name the subject the provider keyed its
        # decision on even when the caller didn't thread identity=.
        from feast_java_old_spark.registry.auth import audited_identity

        identity = audited_identity(
            getattr(auth, "provider", None), authentication
        )
    n_req = (
        len(entity_rows) if isinstance(entity_rows, (list, tuple)) else -1
    )
    request_summary = {
        "features": ",".join(str(r) for r in feature_refs),
        "entity_rows": n_req,
    }
    t0 = _time.perf_counter()
    try:
        # Serving-side authorization on the request's project —
        # ServingServiceGRpcController.getOnlineFeaturesV2:86-91
        # authorizes BEFORE retrieval; a denied call never touches the
        # store and surfaces as PERMISSION_DENIED.
        if auth is not None:
            auth.authorize_request(authentication, project)
        # `project` scopes BOTH the authorization decision and the
        # registry lookup — forwarding it keeps the two aligned (a call
        # authorized for project X must not silently serve project
        # default's tables).
        df = get_online_features(
            spark, registry, entity_rows, feature_refs, project=project,
            **kwargs
        )
        rows = response_rows(df, feature_refs)
    except Exception as ex:
        # Status codes follow the gRPC mapping the reference's
        # interceptor would report: request-shape problems →
        # INVALID_ARGUMENT, unknown registry objects → NOT_FOUND,
        # everything else (store IO, corrupt files) → INTERNAL — a
        # health dashboard must not attribute a store outage to
        # client-side bad requests.
        from feast_java_old_spark.registry.audit import grpc_status_code

        code = grpc_status_code(ex)
        if audit is not None:
            audit.log_message(
                service="ServingService",
                method="getOnlineFeatures",
                request=request_summary,
                response={"error": type(ex).__name__},
                identity=identity,
                status_code=code,
            )
        if metrics is not None:
            metrics.inc(
                "grpc_request_count",
                {"method": "getOnlineFeatures", "status_code": code},
            )
        raise
    if metrics is not None:
        # Pass the REQUEST's entity-row count explicitly (the value the
        # reference observes); only a non-list request (a DataFrame,
        # n_req = -1) falls back to the response-row count inside
        # observe_request.
        metrics.observe_request(
            project,
            [str(r) for r in feature_refs],
            rows,
            latency_s=_time.perf_counter() - t0,
            entity_count=n_req if n_req >= 0 else None,
        )
    if audit is not None:
        # Feature fields only: entity echo-backs are PRESENT by
        # construction and would dilute the health signal. A feature's
        # response key is its full "table:feature" ref or the bare
        # feature name (full_feature_names=False) — resolve from the
        # request's ref list, same mapping response_rows used.
        feat_keys = set()
        if rows:
            for ref in feature_refs:
                _, _, bare = str(ref).partition(":")
                feat_keys.add(
                    str(ref) if str(ref) in rows[0]["statuses"] else bare
                )
        counts: dict[str, int] = {}
        for r in rows:
            for key, st in r["statuses"].items():
                if key in feat_keys:
                    counts[st] = counts.get(st, 0) + 1
        audit.log_message(
            service="ServingService",
            method="getOnlineFeatures",
            request=request_summary,
            response={"rows": len(rows), **{k: counts[k] for k in sorted(counts)}},
            identity=identity,
            status_code="OK",
        )
    return rows


# --------------------------------------------------------------- info/health

FEAST_SERVING_TYPE_ONLINE = "FEAST_SERVING_TYPE_ONLINE"

SERVING = "SERVING"
NOT_SERVING = "NOT_SERVING"


def serving_info(version: Optional[str] = None) -> dict:
    """``GetFeastServingInfo`` — the first call a client library makes.

    Parity: ``OnlineServingServiceV2.getFeastServingInfo:74-79`` (the
    service reports its type, ``FEAST_SERVING_TYPE_ONLINE``) +
    ``ServingServiceGRpcController.getFeastServingInfo:72-79`` (the
    controller stamps the build version onto the response)."""
    if version is None:
        from feast_java_old_spark import __version__ as version
    return {"version": version, "type": FEAST_SERVING_TYPE_ONLINE}


def health_check(registry) -> str:
    """gRPC health probe — ``HealthServiceController.check:41-59``:
    SERVING when the serving service can answer, NOT_SERVING on any
    failure (the response is a status, never an exception — health
    endpoints must not error).

    The reference's probe calls ``getFeastServingInfo`` inside a
    try/catch (its TODO notes the intended check is store/registry
    reachability). Here the probe is the registry's readability — the
    one dependency this serving path has: a file-backed registry must
    parse when its file exists (a corrupt or unreadable file means
    every retrieval would fail), an in-memory registry must enumerate.

    A file-backed registry whose path has NOT been written yet is
    healthy, not broken — ``Registry(path=...)`` is fully functional
    in-memory before the first save, so the probe must not report
    NOT_SERVING for a freshly configured service (r10 ADVICE: the
    unconditional ``open`` was a false-negative liveness probe). The
    file is parsed only when present; otherwise the in-memory
    enumeration is the health signal."""
    import json as _json
    import os as _os

    try:
        path = getattr(registry, "path", None)
        if path and _os.path.exists(path):
            with open(path) as f:
                _json.load(f)
        registry.list_projects()
        return SERVING
    except Exception:
        return NOT_SERVING
