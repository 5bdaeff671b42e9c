"""YAML config model.

Mirrors the reference's config shape (reference src/model.rs:3-34):
``Config { sources: [Source] }``,
``Source { name, url, method?, pagination?, sql? }``,
``Pagination { start_page?, end_page?, page_size?, page_param?,
page_size_param?, page_size_default? }``.

Defaults match ``Pagination::default`` (reference src/model.rs:48-59):
start_page=1, end_page=10, page_size=10, page_param="page",
page_size_param="limit", page_size_default=10. An explicit
``end_page: null`` makes the walk open-ended (until a null or empty page).

Unlike the reference — whose binary path hard-wires pagination off
(src/main.rs:41 passes None) and whose paginated-request builder is
dead code (src/datasources.rs:286-316) — this engine honors the
declared Pagination fields for real (see sources/http_json.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields
from typing import Any

import yaml

from http_datafusion_spark.errors import ConfigError, IoError

_ALLOWED_METHODS = {"GET", "POST"}


@dataclass
class Pagination:
    start_page: int = 1
    end_page: int | None = 10
    page_size: int = 10
    page_param: str = "page"
    page_size_param: str = "limit"
    page_size_default: int = 10


@dataclass
class CursorPagination:
    """Cursor/token pagination — the dominant real-API shape the
    reference's page-number model (src/model.rs:20-34) cannot express:
    each response carries the opaque token for the NEXT page (Stripe's
    ``starting_after``, Slack's ``next_cursor``, …), so pages cannot be
    numbered ahead of time and must be walked sequentially.

    ``cursor_param``: query parameter carrying the token on the next
    request (first request sends none). ``cursor_field``: top-level
    response field holding the next token (null/absent/"" = done).
    ``data_field``: top-level response field holding the page's row
    array (a token-paginated body is necessarily an object, so the
    rows live under a key). ``max_pages``: hard safety cap — a buggy
    endpoint that re-serves the same token must not loop a 1000-
    executor ingest forever.
    """

    cursor_param: str = "cursor"
    cursor_field: str = "next_cursor"
    data_field: str = "data"
    page_size: int | None = None
    page_size_param: str = "limit"
    max_pages: int = 1000


@dataclass
class LinkPagination:
    """RFC 8288 ``Link: <...>; rel="next"`` pagination (the
    GitHub/Stripe-list contract) — the server names the next URL and
    the client follows it verbatim, so neither page numbers nor body
    tokens exist. ``max_pages``: hard safety cap — a self-linking
    endpoint must not loop the walk forever (the walk also stops on
    any next-URL it has already visited)."""

    max_pages: int = 10_000


Paging = Pagination | CursorPagination | LinkPagination

_PAGING_MODES = {
    "pagination": Pagination,
    "cursor_pagination": CursorPagination,
    "link_pagination": LinkPagination,
}


def _paging_block(key: str, raw: dict[str, Any] | None) -> Paging | None:
    """One pagination block from its config mapping. Unknown keys are an
    error. A null value means None where the field admits None (so
    ``end_page: null`` is open-ended) and the field's default elsewhere."""
    if raw is None:
        return None
    cls = _PAGING_MODES[key]
    nullable = {f.name: "None" in str(f.type) for f in fields(cls)}
    unknown = set(raw) - set(nullable)
    if unknown:
        raise ConfigError(f"unknown {key} keys: {sorted(unknown)}")
    return cls(**{k: v for k, v in raw.items() if v is not None or nullable[k]})


def _expand_env(value: str, where: str) -> str:
    """Expand ``${VAR}`` placeholders from the environment — secrets
    (API tokens) belong in the environment, never in config.yaml.
    A missing variable is a hard ConfigError, not a silent literal."""
    import os
    import re

    def sub(m: re.Match) -> str:
        var = m.group(1)
        if var not in os.environ:
            raise ConfigError(f"{where}: environment variable {var!r} is not set")
        return os.environ[var]

    return re.sub(r"\$\{(\w+)\}", sub, value)


@dataclass
class Source:
    name: str
    url: str
    method: str = "GET"
    pagination: Pagination | None = None
    cursor_pagination: CursorPagination | None = None
    link_pagination: LinkPagination | None = None
    sql: str | None = None
    # Beyond the reference (its request builder sends no headers and no
    # body, src/datasources.rs:212-268): real APIs need auth headers and
    # POST payloads. Header values support ${ENV_VAR} expansion.
    headers: dict[str, str] | None = None
    body: Any | None = None

    def __post_init__(self) -> None:
        if not self.name:
            raise ConfigError("source requires a non-empty 'name'")
        if not self.url:
            raise ConfigError(f"source {self.name!r} requires a 'url'")
        modes = [m for m in _PAGING_MODES if getattr(self, m) is not None]
        if len(modes) > 1:
            raise ConfigError(
                f"source {self.name!r}: pagination modes are mutually "
                f"exclusive, got {modes}"
            )
        self.method = (self.method or "GET").upper()
        # Reference allows only GET/POST (src/datasources.rs:217-223).
        if self.method not in _ALLOWED_METHODS:
            raise ConfigError(
                f"source {self.name!r}: method {self.method!r} not supported "
                f"(allowed: {sorted(_ALLOWED_METHODS)})"
            )
        if self.headers is not None:
            if not isinstance(self.headers, dict) or not all(
                isinstance(k, str) and isinstance(v, str) for k, v in self.headers.items()
            ):
                raise ConfigError(f"source {self.name!r}: headers must map strings to strings")
            self.headers = {
                k: _expand_env(v, f"source {self.name!r} header {k!r}")
                for k, v in self.headers.items()
            }
        if self.body is not None and self.method != "POST":
            raise ConfigError(f"source {self.name!r}: 'body' requires method POST")

    @property
    def paging(self) -> Paging | None:
        """The source's pagination mode, whichever of the three is set."""
        return self.pagination or self.cursor_pagination or self.link_pagination

    @classmethod
    def from_dict(cls, raw: dict[str, Any]) -> Source:
        if not isinstance(raw, dict):
            raise ConfigError(f"source entry must be a mapping, got {type(raw).__name__}")
        known = {f.name for f in fields(cls)}
        unknown = set(raw) - known
        if unknown:
            raise ConfigError(f"source has unknown keys: {sorted(unknown)}")
        return cls(
            name=raw.get("name", ""),
            url=raw.get("url", ""),
            method=raw.get("method") or "GET",
            **{m: _paging_block(m, raw.get(m)) for m in _PAGING_MODES},
            sql=raw.get("sql"),
            headers=raw.get("headers"),
            body=raw.get("body"),
        )


@dataclass
class Config:
    sources: list[Source] = field(default_factory=list)

    @classmethod
    def from_dict(cls, raw: dict[str, Any]) -> Config:
        if not isinstance(raw, dict) or "sources" not in raw:
            raise ConfigError("config must be a mapping with a 'sources' list")
        srcs = raw["sources"]
        if not isinstance(srcs, list):
            raise ConfigError("'sources' must be a list")
        return cls(sources=[Source.from_dict(s) for s in srcs])

    @classmethod
    def from_yaml(cls, text: str) -> Config:
        try:
            raw = yaml.safe_load(text)
        except yaml.YAMLError as e:
            raise ConfigError(f"invalid YAML: {e}") from e
        return cls.from_dict(raw)


def load_config(path: str) -> Config:
    """Load and validate a config.yaml (reference src/main.rs:25-28)."""
    try:
        with open(path, encoding="utf-8") as f:
            text = f.read()
    except OSError as e:
        raise IoError(f"cannot read config {path!r}: {e}") from e
    return Config.from_yaml(text)
