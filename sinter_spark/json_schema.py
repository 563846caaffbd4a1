"""JSON Schema generation (driver-side, pure Python).

Port of the observable behavior of ``/root/reference/lib/sinter/
json_schema.ex``: ``generate/2`` (``json_schema.ex:98-138``) with
``optimize_for_provider`` / ``draft`` / ``flatten`` /
``include_descriptions`` / ``strict`` options, constraint mapping
(``json_schema.ex:393-420``), alias-named properties
(``json_schema.ex:213-223``), always-emitted ``required`` /
``additionalProperties`` (``json_schema.ex:198-204``), x-sinter
metadata (``json_schema.ex:720-729``), provider variants
(``json_schema.ex:432-546``: openai/anthropic → draft 7, recursive
``additionalProperties: false``, unsupported-``format`` stripping,
union simplification), and discriminated-union hoisting to
``$defs``/``definitions`` with path-derived names
(``json_schema.ex:563-671``). No Spark involvement — this doubles as a
human-readable contract of the expected table shape.
"""

from __future__ import annotations

import re
from typing import Any

from .schema import Schema
from .types import to_json_schema as type_fragment

DRAFT_2020_12 = "https://json-schema.org/draft/2020-12/schema"
DRAFT_7 = "http://json-schema.org/draft-07/schema#"

_DRAFT_URIS = {"draft2020_12": DRAFT_2020_12, "draft7": DRAFT_7}

_CONSTRAINT_MAP = {
    # (constraint, json-schema keyword) — json_schema.ex:393-420
    "min_length": "minLength",
    "max_length": "maxLength",
    "min_items": "minItems",
    "max_items": "maxItems",
    "gt": "exclusiveMinimum",
    "gteq": "minimum",
    "lt": "exclusiveMaximum",
    "lteq": "maximum",
    "choices": "enum",
}

# json_schema.ex:465-473 — per-provider "format" values to strip
_UNSUPPORTED_FORMATS = {
    "openai": {"date", "time", "email"},
    "anthropic": {"uri", "uuid"},
}


def _normalize_draft(draft: str | None) -> str | None:
    if draft is None:
        return None
    d = str(draft).replace("-", "_").replace(":", "")
    if d in ("draft7", "draft_7", "7"):
        return "draft7"
    if d in ("draft2020_12", "draft_2020_12", "2020_12", "2020"):
        return "draft2020_12"
    raise ValueError(f"unknown draft: {draft!r}")


def _escape_json_pointer(token: str) -> str:
    # json_schema.ex:666-671
    return token.replace("~", "~0").replace("/", "~1")


def _sanitize_token(token: str) -> str:
    # json_schema.ex:655-664
    out = re.sub(r"[^A-Za-z0-9_]+", "_", str(token)).strip("_")
    return out or "union"


class _Ctx:
    __slots__ = ("include_descriptions", "strict", "strict_override")

    def __init__(self, include_descriptions: bool, strict: bool, strict_override: bool):
        self.include_descriptions = include_descriptions
        self.strict = strict
        self.strict_override = strict_override


def generate(
    schema: Schema,
    *,
    provider: str | None = None,
    optimize_for_provider: str | None = None,
    draft: str | None = None,
    flatten: bool = False,
    include_descriptions: bool = True,
    strict: bool | None = None,
) -> dict[str, Any]:
    """Core generator (json_schema.ex:98-138). ``provider`` is an alias
    of ``optimize_for_provider`` kept for earlier call sites."""
    prov = optimize_for_provider or provider or "generic"
    draft_key = _normalize_draft(draft) or (
        "draft7" if prov in ("openai", "anthropic") else "draft2020_12"
    )
    strict_override = strict is not None
    effective_strict = schema.config.strict if strict is None else bool(strict)
    ctx = _Ctx(include_descriptions, effective_strict, strict_override)

    base: dict[str, Any] = {
        "$schema": _DRAFT_URIS[draft_key],
        "type": "object",
        "properties": _build_properties(schema, ctx),
        "required": _required_list(schema),
        "additionalProperties": not effective_strict,
    }
    if schema.config.title:
        base["title"] = schema.config.title
    if schema.config.description:
        base["description"] = schema.config.description
    # x-sinter metadata (json_schema.ex:720-729)
    base["x-sinter-version"] = str(schema.metadata.get("sinter_version", "0"))
    base["x-sinter-field-count"] = schema.metadata.get("field_count", len(schema.fields))
    if "created_at" in schema.metadata:
        base["x-sinter-created-at"] = schema.metadata["created_at"]

    out = _finalize_discriminated_unions(base, draft_key)
    out = _apply_provider_optimizations(out, prov)
    if prov in ("openai", "anthropic") or effective_strict:
        out = _apply_recursive_strictness(out)
    # flatten: reference keeps this a no-op (json_schema.ex:673-678)
    return out


# -- object/property construction -------------------------------------------


def _build_properties(schema: Schema, ctx: _Ctx) -> dict[str, Any]:
    props: dict[str, Any] = {}
    for name, fd in schema.fields.items():
        # alias wins as the property name (json_schema.ex:219)
        props[fd.alias or name] = _build_property_schema(fd, ctx)
    return props


def _required_list(schema: Schema) -> list[str]:
    return [fd.alias or n for n, fd in schema.fields.items() if fd.required]


def _build_property_schema(fd, ctx: _Ctx) -> dict[str, Any]:
    frag = _build_type_schema(fd.type, ctx)
    for key, kw in _CONSTRAINT_MAP.items():
        if key in fd.constraints:
            v = fd.constraints[key]
            frag[kw] = list(v) if key == "choices" else v
    if "format" in fd.constraints:
        # regex constraint → pattern, unconditionally (json_schema.ex:409-413);
        # providers strip the *format* keyword, never pattern
        frag["pattern"] = fd.constraints["format"].pattern
    if fd.description and ctx.include_descriptions:
        frag["description"] = fd.description
    if fd.example is not None:
        frag["examples"] = [fd.example]
    if fd.default is not None:
        frag["default"] = fd.default
    return frag


def _build_type_schema(t, ctx: _Ctx) -> dict[str, Any]:
    """json_schema.ex:240-332 — compound types recurse through here so
    nested objects/unions expand fully; leaves delegate to Types."""
    if isinstance(t, tuple) and t:
        tag = t[0]
        if tag == "array":
            out = {"type": "array", "items": _build_type_schema(t[1], ctx)}
            if len(t) == 3:
                if "min_items" in t[2]:
                    out["minItems"] = t[2]["min_items"]
                if "max_items" in t[2]:
                    out["maxItems"] = t[2]["max_items"]
            return out
        if tag == "union":
            return {"oneOf": [_build_type_schema(s, ctx) for s in t[1]]}
        if tag == "tuple":
            return {
                "type": "array",
                "items": False,
                "prefixItems": [_build_type_schema(s, ctx) for s in t[1]],
                "minItems": len(t[1]),
                "maxItems": len(t[1]),
            }
        if tag == "map":
            key_t, val_t = t[1], t[2]
            if key_t == "string" and val_t != "any":
                return {"type": "object", "additionalProperties": _build_type_schema(val_t, ctx)}
            return {"type": "object", "additionalProperties": True}
        if tag == "nullable":
            return {"anyOf": [_build_type_schema(t[1], ctx), {"type": "null"}]}
        if tag == "object":
            return _build_object_schema(t[1], ctx)
        if tag == "discriminated_union":
            # intermediate marker hoisted by _finalize_discriminated_unions
            # (json_schema.ex:302-318)
            disc, variants = t[1], t[2]
            return {
                "discriminator": {"propertyName": str(disc)},
                "x-sinter-union-definitions": {
                    str(k): _variant_schema(v, disc, ctx) for k, v in variants.items()
                },
            }
    return type_fragment(t)


def _build_object_schema(schema: Schema, ctx: _Ctx) -> dict[str, Any]:
    # json_schema.ex:334-350 — nested strictness follows the nested schema's
    # own config unless the caller passed an explicit strict override
    strict = ctx.strict if ctx.strict_override else schema.config.strict
    out: dict[str, Any] = {
        "type": "object",
        "properties": _build_properties(schema, ctx),
        "required": _required_list(schema),
        "additionalProperties": not strict,
    }
    if schema.config.title:
        out["title"] = schema.config.title
    if schema.config.description and ctx.include_descriptions:
        out["description"] = schema.config.description
    return out


def _variant_schema(schema: Schema, discriminator, ctx: _Ctx) -> dict[str, Any]:
    # json_schema.ex:352-374 — the discriminator field is forced into required
    out = _build_object_schema(schema, ctx)
    disc = str(discriminator)
    fd = schema.fields.get(disc)
    if fd is not None:
        prop = fd.alias or disc
        if prop not in out["required"]:
            out["required"] = out["required"] + [prop]
    return out


def _variant_object_schema(schema: Schema, discriminator) -> dict[str, Any]:
    """Standalone variant fragment for Types.to_json_schema (types.ex:683-706)."""
    return _variant_schema(schema, discriminator, _Ctx(True, False, False))


# -- discriminated-union hoisting (json_schema.ex:563-671) -------------------


def _finalize_discriminated_unions(schema: dict, draft_key: str) -> dict:
    defs_key = "definitions" if draft_key == "draft7" else "$defs"
    resolved, defs = _hoist(schema, defs_key, [])
    if defs:
        merged = dict(resolved.get(defs_key, {}))
        merged.update(defs)
        resolved[defs_key] = merged
    return resolved


def _hoist(node, defs_key: str, path: list[str]):
    if isinstance(node, dict):
        variants = node.get("x-sinter-union-definitions")
        rest = {k: v for k, v in node.items() if k != "x-sinter-union-definitions"}
        out: dict[str, Any] = {}
        defs: dict[str, Any] = {}
        for k, v in rest.items():
            rv, vd = _hoist(v, defs_key, path + [str(k)])
            out[k] = rv
            defs.update(vd)
        if variants is None:
            return out, defs
        one_of = []
        mapping = {}
        for vkey, vschema in variants.items():
            rv, vd = _hoist(vschema, defs_key, path + ["variants", vkey])
            defs.update(vd)
            def_name = "__".join(_sanitize_token(tok) for tok in path + [vkey])
            defs[def_name] = rv
            one_of.append(rv)
            mapping[vkey] = f"#/{defs_key}/{_escape_json_pointer(def_name)}"
        disc = dict(out.get("discriminator", {}))
        disc["mapping"] = mapping
        out["discriminator"] = disc
        out["oneOf"] = one_of
        return out, defs
    if isinstance(node, list):
        items, defs = [], {}
        for item in node:
            ri, di = _hoist(item, defs_key, path)
            items.append(ri)
            defs.update(di)
        return items, defs
    return node, {}


# -- provider optimizations (json_schema.ex:432-546) -------------------------


def _transform(node, fn):
    """Bottom-up structural rewrite (json_schema.ex:548-561)."""
    if isinstance(node, dict):
        return fn({k: _transform(v, fn) for k, v in node.items()})
    if isinstance(node, list):
        return [_transform(v, fn) for v in node]
    return node


def _apply_provider_optimizations(schema: dict, provider: str) -> dict:
    if provider not in ("openai", "anthropic"):
        return schema
    out = dict(schema)
    out["additionalProperties"] = False
    out.setdefault("required", [])
    unsupported = _UNSUPPORTED_FORMATS[provider]

    def strip_formats(d):
        if isinstance(d.get("format"), str) and d["format"] in unsupported:
            return {k: v for k, v in d.items() if k != "format"}
        return d

    out = _transform(out, strip_formats)
    if provider == "openai":
        # json_schema.ex:497-509 — cap unions at 3 branches
        def simplify(d):
            if isinstance(d.get("oneOf"), list) and len(d["oneOf"]) > 3:
                return {**d, "oneOf": d["oneOf"][:3]}
            return d

        out = _transform(out, simplify)
    else:
        # json_schema.ex:511-525 — objects always carry a properties map
        def ensure_props(d):
            if d.get("type") == "object" and "properties" not in d:
                return {**d, "properties": {}}
            return d

        out = _transform(out, ensure_props)
    return out


def _apply_recursive_strictness(node):
    # json_schema.ex:527-546
    if isinstance(node, dict):
        out = {k: _apply_recursive_strictness(v) for k, v in node.items()}
        if out.get("type") == "object" and "properties" in out:
            out["additionalProperties"] = False
        return out
    if isinstance(node, list):
        return [_apply_recursive_strictness(v) for v in node]
    return node


# -- public helpers -----------------------------------------------------------


def for_provider(schema: Schema, provider: str, **opts) -> dict[str, Any]:
    """openai/anthropic/generic variants (json_schema.ex:151-155)."""
    return generate(schema, optimize_for_provider=provider, **opts)


_KNOWN_TYPES = {"object", "array", "string", "integer", "number", "boolean", "null"}
_INT_KEYWORDS = {"minLength", "maxLength", "minItems", "maxItems"}


def validate_schema(schema: Schema | dict, *, draft: str | None = None, **gen_opts) -> tuple[bool, str]:
    """Meta-schema validation of a JSON Schema document
    (json_schema.ex:176-188 validates via JSV; ``draft`` overrides the
    default meta-schema). Accepts either a generated document or a
    sinter Schema (generated first). Uses the ``jsonschema`` package
    when present; degrades to a structural self-check otherwise."""
    if isinstance(schema, Schema):
        # generate under the requested draft so the document's own
        # $schema matches what it is validated against
        doc = generate(schema, **({"draft": draft} if draft is not None else {}), **gen_opts)
    else:
        doc = schema
    try:
        import jsonschema  # type: ignore

        if draft is not None:
            # explicit draft OVERRIDES any $schema already present —
            # "draft overrides the default meta-schema" means validate
            # under that draft, not under whatever the doc carries
            doc = {**doc, "$schema": _DRAFT_URIS[_normalize_draft(draft)]}
        # JSV's stricter "could not build" checks run first: check_schema
        # tolerates unknown "type" values under some metas, and
        # validator_for only warns on an unknown $schema URI and falls
        # back (a fallback jsonschema deprecates)
        ok, msg = _structural_check(doc)
        if not ok:
            return False, f"could not build: {msg}"
        jsonschema.validators.validator_for(doc).check_schema(doc)
        return True, "validated against meta-schema"
    except ImportError:
        ok, msg = _structural_check(doc)
        return (True, "jsonschema package unavailable; structural self-check passed") if ok else (False, f"could not build: {msg}")
    except Exception as e:  # noqa: BLE001
        return False, f"could not build: {e}"


def _structural_check(doc: Any) -> tuple[bool, str]:
    if not isinstance(doc, dict):
        return True, ""
    uri = doc.get("$schema")
    if isinstance(uri, str) and uri not in _DRAFT_URIS.values():
        return False, f"unknown meta-schema {uri}"
    t = doc.get("type")
    if isinstance(t, str) and t not in _KNOWN_TYPES:
        return False, f"invalid type {t!r}"
    for kw in _INT_KEYWORDS:
        # dict values are nested schemas (e.g. a *property* named minLength)
        if kw in doc and not isinstance(doc[kw], (int, dict)):
            return False, f"{kw} must be an integer"
    for v in doc.values():
        if isinstance(v, dict):
            ok, msg = _structural_check(v)
            if not ok:
                return ok, msg
        elif isinstance(v, list):
            for item in v:
                ok, msg = _structural_check(item) if isinstance(item, dict) else (True, "")
                if not ok:
                    return ok, msg
    return True, ""
