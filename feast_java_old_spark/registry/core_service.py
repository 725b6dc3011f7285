"""Core control-plane controller — ``CoreServiceImpl.java`` analog.

The reference layers its control plane as gRPC controller → service:
``CoreServiceImpl`` authorizes project-mutating calls, maps exceptions
to gRPC status codes, and (via ``GrpcMessageInterceptor``) emits one
MESSAGE audit entry per call; ``SpecService``/``ProjectService`` hold
the pure registry logic. :class:`~feast_java_old_spark.registry.
registry.Registry` is this repo's SpecService; :class:`CoreService`
is the controller over it.

Authorization sites mirror the reference EXACTLY — four mutating RPCs
(``CoreServiceImpl.java:181,240,295,392``):

- ``apply_entity``        (applyEntity:181)
- ``archive_project``     (archiveProject:240)
- ``apply_feature_table`` (applyFeatureTable:295)
- ``delete_feature_table``(deleteFeatureTable:392)

Reads (get/list) and the remaining mutations (createProject,
updateStore) carry NO authorizeRequest call in the reference and pass
through unauthorized here too — coverage parity, not blanket policy.

Status mapping per the reference's catch blocks: ``AccessDeniedError``
→ PERMISSION_DENIED (logged at ERROR with the denial in the MESSAGE
entry, ``GrpcMessageInterceptor.java:83-89`` semantics), validation →
INVALID_ARGUMENT, unknown resource → NOT_FOUND, anything else →
INTERNAL.
"""

from __future__ import annotations

from typing import Optional

from feast_java_old_spark.registry.audit import grpc_status_code
from feast_java_old_spark.registry.auth import (
    Authentication,
    AuthorizationService,
    audited_identity,
)
from feast_java_old_spark.registry.registry import DEFAULT_PROJECT, Registry

SERVICE_NAME = "CoreService"


class CoreService:
    def __init__(
        self,
        registry: Registry,
        auth: Optional[AuthorizationService] = None,
        audit=None,
        metrics=None,
    ) -> None:
        self.registry = registry
        self.auth = auth or AuthorizationService(enabled=False)
        # MESSAGE entries go to the same trail the registry's ACTION
        # entries use unless the caller splits them.
        self.audit = audit if audit is not None else registry.audit
        # MonitoringInterceptor analog (a plans.metrics.CoreGrpcMetrics):
        # every call observes feast_core_request_latency_seconds at
        # close, success and failure alike.
        self.metrics = metrics

    # ------------------------------------------------------------ internal

    def _call(
        self,
        method: str,
        project: Optional[str],
        authentication: Optional[Authentication],
        fn,
        request: Optional[dict] = None,
        authorize: bool = True,
    ):
        """Run one controller call: authorize (when the reference
        does), delegate, and emit ONE MESSAGE audit entry with the
        call's gRPC status code — OK at INFO, failures at ERROR
        (``AuditLogger.log_message`` pins the level from the code)."""
        import time as _time

        identity = audited_identity(self.auth.provider, authentication)
        req = dict(request or {})
        if project is not None:
            req.setdefault("project", project)
        t0 = _time.perf_counter()
        try:
            if authorize and project is not None:
                self.auth.authorize_request(authentication, project)
            result = fn()
        except Exception as ex:
            code = grpc_status_code(ex)
            if self.metrics is not None:
                # MonitoringInterceptor.java:45-52 — the latency
                # histogram observes on close with the FINAL status.
                self.metrics.observe_call(
                    method, code, _time.perf_counter() - t0
                )
            if self.audit is not None:
                self.audit.log_message(
                    service=SERVICE_NAME,
                    method=method,
                    request=req,
                    response={"error": str(ex) or type(ex).__name__},
                    identity=identity,
                    status_code=code,
                )
            raise
        if self.metrics is not None:
            self.metrics.observe_call(method, "OK", _time.perf_counter() - t0)
        if self.audit is not None:
            self.audit.log_message(
                service=SERVICE_NAME,
                method=method,
                request=req,
                response={"status": "OK"},
                identity=identity,
                status_code="OK",
            )
        return result

    # ------------------------------------------- authorized mutations (4)

    def apply_entity(
        self,
        entity,
        project: str = DEFAULT_PROJECT,
        authentication: Optional[Authentication] = None,
    ):
        """``CoreServiceImpl.applyEntity:172-208`` — authorized."""
        return self._call(
            "ApplyEntity",
            project,
            authentication,
            lambda: self.registry.apply_entity(entity, project),
            request={"entity": entity.name},
        )

    def archive_project(
        self,
        name: str,
        authentication: Optional[Authentication] = None,
    ) -> None:
        """``CoreServiceImpl.archiveProject:235-266`` — authorized."""
        return self._call(
            "ArchiveProject",
            name,
            authentication,
            lambda: self.registry.archive_project(name),
        )

    def apply_feature_table(
        self,
        table,
        project: str = DEFAULT_PROJECT,
        authentication: Optional[Authentication] = None,
    ):
        """``CoreServiceImpl.applyFeatureTable:285-330`` — authorized."""
        return self._call(
            "ApplyFeatureTable",
            project,
            authentication,
            lambda: self.registry.apply_feature_table(table, project),
            request={"table": table.name},
        )

    def delete_feature_table(
        self,
        name: str,
        project: str = DEFAULT_PROJECT,
        authentication: Optional[Authentication] = None,
    ) -> None:
        """``CoreServiceImpl.deleteFeatureTable:385-412`` — authorized."""
        return self._call(
            "DeleteFeatureTable",
            project,
            authentication,
            lambda: self.registry.delete_feature_table(name, project),
            request={"table": name},
        )

    # --------------------------------- unauthorized parity passthroughs

    def create_project(
        self,
        name: str,
        authentication: Optional[Authentication] = None,
    ):
        """``CoreServiceImpl.createProject:214-233`` — the reference
        does NOT authorize project creation (any authenticated caller
        may create; membership gates later mutations)."""
        return self._call(
            "CreateProject",
            name,
            authentication,
            lambda: self.registry.create_project(name),
            authorize=False,
        )

    def update_store(
        self,
        store,
        authentication: Optional[Authentication] = None,
    ):
        """``CoreServiceImpl.updateStore:341-361`` — not authorized in
        the reference (stores are not project-scoped)."""
        return self._call(
            "UpdateStore",
            None,
            authentication,
            lambda: self.registry.update_store(store),
            request={"store": store.name},
            authorize=False,
        )

    def get_version(self) -> str:
        """``CoreServiceImpl.getFeastCoreVersion:65-77`` — the build
        version, served to authenticated and anonymous callers alike
        (``CoreServiceAuthenticationIT.shouldGetVersionFromFeastCoreAlways``:
        version is never behind authentication or authorization)."""
        from feast_java_old_spark import __version__

        return __version__

    # Reads delegate with no authorization and no MESSAGE entry — the
    # reference's list/get RPCs call authorizeRequest nowhere, and the
    # gate's trail queries count mutations, not read chatter. The
    # MonitoringInterceptor latency histogram, however, observes EVERY
    # call (it wraps the whole server, MonitoringConfig.java), so reads
    # still observe when metrics are wired.

    def _timed(self, method: str, fn):
        if self.metrics is None:
            return fn()
        import time as _time

        t0 = _time.perf_counter()
        try:
            result = fn()
        except Exception as ex:
            self.metrics.observe_call(
                method, grpc_status_code(ex), _time.perf_counter() - t0
            )
            raise
        self.metrics.observe_call(method, "OK", _time.perf_counter() - t0)
        return result

    def get_entity(self, name: str, project: str = DEFAULT_PROJECT):
        return self._timed(
            "GetEntity", lambda: self.registry.get_entity(name, project)
        )

    def list_entities(self, project: str = DEFAULT_PROJECT, **kw):
        return self._timed(
            "ListEntities", lambda: self.registry.list_entities(project, **kw)
        )

    def get_feature_table(self, name: str, project: str = DEFAULT_PROJECT):
        return self._timed(
            "GetFeatureTable",
            lambda: self.registry.get_feature_table(name, project),
        )

    def list_feature_tables(self, project: str = DEFAULT_PROJECT, **kw):
        return self._timed(
            "ListFeatureTables",
            lambda: self.registry.list_feature_tables(project, **kw),
        )

    def list_features(self, project: str = DEFAULT_PROJECT, **kw):
        return self._timed(
            "ListFeatures", lambda: self.registry.list_features(project, **kw)
        )

    def list_projects(self, **kw):
        return self._timed(
            "ListProjects", lambda: self.registry.list_projects(**kw)
        )

    def list_stores(self):
        return self._timed("ListStores", self.registry.list_stores)

    def get_store(self, name: str):
        return self._timed("GetStore", lambda: self.registry.get_store(name))
