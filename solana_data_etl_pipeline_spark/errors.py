"""Error taxonomy: the variants of the reference's src/error.rs:5-30
that this engine raises."""

from __future__ import annotations


class ETLError(Exception):
    """Base for all engine errors."""


class RpcError(ETLError):
    pass


class ConfigError(ETLError):
    pass

