"""Connection-config parsing: JSON or HCL.

The reference accepts both JSON and HCL connection-config strings — its
test.sql demonstrates `{"profile":"silverwater", "regions":["*"]}` and
`profile = "silverwater"` side by side (/root/reference/test.sql:4-8); the
plugin SDK parses whichever the plugin schema declares.  Here every
connector funnels its config through :func:`parse_config`, which accepts:

1. JSON (tried first — cheap and unambiguous);
2. otherwise, the flat HCL subset that connection configs in practice
   use, parsed by a built-in parser: ``key = value`` lines with
   string/number/bool/list values and ``#``/``//`` comments.  Nested
   blocks are out of scope — none of the reference's own examples use
   them.  There is one HCL path, so a config string parses the same
   whichever packages are installed.

The options the engine itself reads (scan cache, retry, throttle) are
parsed once per connection into a :class:`ConnectionOptions` record, when
the connector's config is assigned (``Connector.__init__``/``set_config``,
the analog of the reference's SetConnectionConfig).  A mistyped value
fails there, naming its key; the cache, retry and throttle code only read
the record's fields.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from typing import Any

class ConfigError(ValueError):
    """Raised when a config string parses as neither JSON nor HCL."""


_COMMENT_RE = re.compile(r"(#|//).*$")
_KV_RE = re.compile(r"^([A-Za-z_][\w-]*)\s*=\s*(.+)$")


def _parse_scalar(tok: str) -> Any:
    tok = tok.strip()
    if len(tok) >= 2 and tok[0] == '"' and tok[-1] == '"':
        return json.loads(tok)  # JSON string escapes ⊇ HCL's
    if tok in ("true", "false"):
        return tok == "true"
    if tok == "null":
        return None
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        raise ConfigError(f"unparseable HCL value: {tok!r}")


def _split_list(body: str) -> list[str]:
    """Split a bracketed list body on top-level commas (quote-aware)."""
    items, depth, in_str, cur = [], 0, False, []
    i = 0
    while i < len(body):
        ch = body[i]
        if in_str:
            cur.append(ch)
            if ch == "\\":
                i += 1
                if i < len(body):
                    cur.append(body[i])
            elif ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
            cur.append(ch)
        elif ch == "[":
            depth += 1
            cur.append(ch)
        elif ch == "]":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            items.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur and "".join(cur).strip():
        items.append("".join(cur))
    return items


def _parse_value(tok: str) -> Any:
    tok = tok.strip()
    if tok.startswith("[") and tok.endswith("]"):
        body = tok[1:-1].strip()
        if not body:
            return []
        return [_parse_value(item) for item in _split_list(body)]
    return _parse_scalar(tok)


def _parse_hcl_subset(text: str) -> dict[str, Any]:
    out: dict[str, Any] = {}
    # join continuation lines of multiline lists
    lines: list[str] = []
    buf = ""
    for raw in text.splitlines():
        line = _COMMENT_RE.sub("", raw).strip()
        if not line:
            continue
        buf = f"{buf} {line}".strip() if buf else line
        if buf.count("[") > buf.count("]"):
            continue  # list continues on the next line
        lines.append(buf)
        buf = ""
    if buf:
        lines.append(buf)
    if not lines:
        return out
    for line in lines:
        m = _KV_RE.match(line)
        if not m:
            raise ConfigError(f"unsupported HCL construct: {line!r}")
        out[m.group(1)] = _parse_value(m.group(2))
    return out


def parse_config(config: str | None) -> dict[str, Any]:
    """Parse a connection-config string (JSON or HCL) into a dict."""
    if not config or not config.strip():
        return {}
    try:
        parsed = json.loads(config)
        if isinstance(parsed, dict):
            return parsed
        raise ConfigError(f"JSON config must be an object, got {type(parsed).__name__}")
    except json.JSONDecodeError:
        pass
    return _parse_hcl_subset(config)


def _is_number(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


# Connection options the engine itself reads (scan cache, retry, throttle):
# key -> (check, what it must be).  Checked up front because the cache
# ignores a value it cannot use ({"cache": "false"} would leave caching on,
# {"cache_ttl": "5"} would keep the 300 s default) and the retry and
# throttle code would raise inside a Python worker at the first page.
# cache_ttl and cache_max_size_mb must be positive for the same reason; for
# the retry keys and rate_limit_rps 0 means "off".  retry_attempts counts
# whole attempts, so 2.5 is an error rather than 2.  rate_limit_burst 0
# means the default; a burst below 1 could never hold the 1-token debit of
# one call, so every throttled call would wait forever.
_ENGINE_OPTIONS = {
    "cache": (lambda v: isinstance(v, bool), "a bool"),
    "cache_ttl": (lambda v: _is_number(v) and v > 0, "a positive number of seconds"),
    "cache_max_size_mb": (lambda v: _is_number(v) and v > 0, "a positive number"),
    "retry_attempts": (
        lambda v: isinstance(v, int) and not isinstance(v, bool) and v >= 0,
        "a non-negative integer",
    ),
    **{
        key: (lambda v: _is_number(v) and v >= 0, "a non-negative number")
        for key in ("retry_min_backoff_ms", "retry_max_backoff_ms", "rate_limit_rps")
    },
    "rate_limit_burst": (
        lambda v: _is_number(v) and (v == 0 or v >= 1),
        "0 (the default) or a number >= 1",
    ),
}


@dataclass(frozen=True)
class ConnectionOptions:
    """The engine-read options of one connection config, parsed once.

    ``cache`` False bypasses the scan cache for this connection only;
    ``cache_ttl_s`` and ``cache_max_bytes`` are None for the cache's own
    defaults; ``retry`` is (extra attempts, min backoff ms, max backoff
    ms), None when ``retry_attempts`` is unset or 0; ``rate_limit_rps`` 0
    means no throttle, ``rate_limit_burst`` None the default capacity.
    Keys the engine does not read (a connector's own) are ignored, and a
    config that parses as neither JSON nor HCL yields the defaults: its
    format belongs to the connector."""

    cache: bool = True
    cache_ttl_s: float | None = None
    cache_max_bytes: int | None = None
    retry: tuple[int, float, float] | None = None
    rate_limit_rps: float = 0.0
    rate_limit_burst: float | None = None

    @classmethod
    def parse(cls, config: str | None) -> "ConnectionOptions":
        """The options ``config`` sets; raises ``ValueError`` naming the
        first one whose value has the wrong type or range.  A null value
        counts as unset."""
        try:
            cfg = {k: v for k, v in parse_config(config).items() if v is not None}
        except ValueError:  # ConfigError, or a bad string escape
            return cls()
        for key, (ok, want) in _ENGINE_OPTIONS.items():
            if key in cfg and not ok(cfg[key]):
                raise ValueError(f"connection option {key!r} must be {want}, got {cfg[key]!r}")
        mb = cfg.get("cache_max_size_mb")
        attempts = cfg.get("retry_attempts")
        return cls(
            cache=cfg.get("cache", True),
            cache_ttl_s=cfg.get("cache_ttl"),
            cache_max_bytes=None if mb is None else int(mb * 2**20),
            retry=(
                (
                    attempts,
                    cfg.get("retry_min_backoff_ms", 100),
                    cfg.get("retry_max_backoff_ms", 5000),
                )
                if attempts
                else None
            ),
            rate_limit_rps=cfg.get("rate_limit_rps", 0.0),
            rate_limit_burst=cfg.get("rate_limit_burst") or None,
        )
