"""Port of /root/reference/test/sinter/json_schema_test.exs (854 LoC).

Covers every describe block: basic generation, type conversions,
constraint conversion, field metadata, schema metadata, provider
optimizations, validate_schema, complex scenarios, edge cases, and
spec-compliance. Pure driver-side — no Spark session needed.
"""

from __future__ import annotations

import warnings
from datetime import datetime

import pytest

from sinter_spark import Schema, for_provider, generate
from sinter_spark.json_schema import validate_schema


def make_schema(fields=None, **opts):
    # json_schema_test.exs:7-18 (helper, not a test)
    fields = fields or [
        ("name", "string", {"required": True, "min_length": 2, "max_length": 50}),
        ("age", "integer", {"optional": True, "gt": 0, "lt": 150}),
        ("email", "string", {"optional": True, "format": r".+@.+"}),
        ("tags", ("array", "string"), {"optional": True, "max_items": 10}),
    ]
    return Schema.define(fields, **opts)


class TestBasicGeneration:
    def test_generates_basic_object_schema(self):
        # json_schema_test.exs:21-37
        s = Schema.define([("name", "string"), ("age", "integer", {"optional": True})])
        js = generate(s)
        assert js["type"] == "object"
        assert js["properties"]["name"]["type"] == "string"
        assert js["properties"]["age"]["type"] == "integer"
        assert js["required"] == ["name"]
        # default not strict — additionalProperties is explicit true
        assert js["additionalProperties"] is True

    def test_title_and_description(self):
        # json_schema_test.exs:39-53
        s = Schema.define([("name", "string")], title="User Schema", description="Schema for user data")
        js = generate(s)
        assert js["title"] == "User Schema"
        assert js["description"] == "Schema for user data"

    def test_field_descriptions(self):
        # json_schema_test.exs:55-66
        s = Schema.define(
            [
                ("name", "string", {"description": "User's full name"}),
                ("age", "integer", {"optional": True, "description": "User's age in years"}),
            ]
        )
        js = generate(s)
        assert js["properties"]["name"]["description"] == "User's full name"
        assert js["properties"]["age"]["description"] == "User's age in years"

    def test_excludes_descriptions_when_requested(self):
        # json_schema_test.exs:68-77
        s = Schema.define([("name", "string", {"description": "User's full name"})])
        js = generate(s, include_descriptions=False)
        assert "description" not in js["properties"]["name"]

    def test_strict_mode(self):
        # json_schema_test.exs:79-91
        js = generate(Schema.define([("name", "string")], strict=True))
        assert js["additionalProperties"] is False

    def test_strict_override_option(self):
        # json_schema_test.exs:93-106
        s = Schema.define([("name", "string")])
        assert generate(s, strict=True)["additionalProperties"] is False
        assert generate(s, strict=False)["additionalProperties"] is True


class TestTypeConversions:
    def test_primitive_types(self):
        # json_schema_test.exs:110-134
        s = Schema.define(
            [
                ("text", "string"),
                ("count", "integer"),
                ("price", "float"),
                ("active", "boolean"),
                ("tag", "atom"),
                ("metadata", "map"),
                ("anything", "any"),
            ]
        )
        props = generate(s)["properties"]
        assert props["text"]["type"] == "string"
        assert props["count"]["type"] == "integer"
        assert props["price"]["type"] == "number"
        assert props["active"]["type"] == "boolean"
        assert props["tag"]["type"] == "string"
        assert "Atom" in props["tag"]["description"]
        assert props["metadata"]["type"] == "object"
        assert props["anything"] == {}

    def test_array_types(self):
        # json_schema_test.exs:136-159
        s = Schema.define(
            [
                ("strings", ("array", "string")),
                ("numbers", ("array", "integer")),
                ("nested", ("array", ("array", "string"))),
            ]
        )
        props = generate(s)["properties"]
        assert props["strings"]["type"] == "array"
        assert props["strings"]["items"]["type"] == "string"
        assert props["numbers"]["items"]["type"] == "integer"
        assert props["nested"]["items"]["type"] == "array"
        assert props["nested"]["items"]["items"]["type"] == "string"

    def test_union_to_oneof(self):
        # json_schema_test.exs:161-183
        s = Schema.define(
            [
                ("id", ("union", ["string", "integer"])),
                ("value", ("union", ["string", "boolean", "float"])),
            ]
        )
        props = generate(s)["properties"]
        assert props["id"]["oneOf"] == [{"type": "string"}, {"type": "integer"}]
        assert props["value"]["oneOf"] == [
            {"type": "string"},
            {"type": "boolean"},
            {"type": "number"},
        ]

    def test_tuple_to_prefix_items(self):
        # json_schema_test.exs:185-229
        s = Schema.define(
            [
                ("coords", ("tuple", ["float", "float"])),
                ("rgb", ("tuple", ["integer", "integer", "integer"])),
                ("mixed", ("tuple", ["string", "integer", "boolean"])),
            ]
        )
        props = generate(s)["properties"]
        coords = props["coords"]
        assert coords["type"] == "array"
        assert coords["items"] is False
        assert coords["prefixItems"] == [{"type": "number"}, {"type": "number"}]
        assert coords["minItems"] == 2 and coords["maxItems"] == 2
        rgb = props["rgb"]
        assert rgb["prefixItems"] == [{"type": "integer"}] * 3
        assert rgb["minItems"] == 3 and rgb["maxItems"] == 3
        assert props["mixed"]["prefixItems"] == [
            {"type": "string"},
            {"type": "integer"},
            {"type": "boolean"},
        ]

    def test_map_types(self):
        # json_schema_test.exs:231-248
        s = Schema.define(
            [
                ("simple_map", "map"),
                ("string_map", ("map", "string", "integer")),
            ]
        )
        props = generate(s)["properties"]
        assert props["simple_map"]["type"] == "object"
        assert props["string_map"]["type"] == "object"
        assert props["string_map"]["additionalProperties"]["type"] == "integer"

    def test_object_schema_types(self):
        # json_schema_test.exs:250-268
        inner = Schema.define([("name", "string"), ("age", "integer", {"optional": True})])
        s = Schema.define([("profile", ("object", inner))])
        profile = generate(s)["properties"]["profile"]
        assert profile["type"] == "object"
        assert profile["properties"]["name"]["type"] == "string"
        assert profile["required"] == ["name"]
        assert profile["additionalProperties"] is True


class TestConstraintConversion:
    def test_string_constraints(self):
        # json_schema_test.exs:272-288
        s = Schema.define(
            [
                ("short", "string", {"min_length": 2, "max_length": 10}),
                ("pattern", "string", {"format": r"^[A-Z]"}),
            ]
        )
        props = generate(s)["properties"]
        assert props["short"]["minLength"] == 2
        assert props["short"]["maxLength"] == 10
        assert props["pattern"]["pattern"] == "^[A-Z]"

    def test_numeric_constraints(self):
        # json_schema_test.exs:290-307
        s = Schema.define(
            [
                ("score", "integer", {"gt": 0, "lt": 100}),
                ("rating", "float", {"gteq": 1.0, "lteq": 5.0}),
            ]
        )
        props = generate(s)["properties"]
        assert props["score"]["exclusiveMinimum"] == 0
        assert props["score"]["exclusiveMaximum"] == 100
        assert props["rating"]["minimum"] == 1.0
        assert props["rating"]["maximum"] == 5.0

    def test_array_constraints(self):
        # json_schema_test.exs:309-320
        s = Schema.define([("items", ("array", "string"), {"min_items": 1, "max_items": 5})])
        props = generate(s)["properties"]
        assert props["items"]["minItems"] == 1
        assert props["items"]["maxItems"] == 5

    def test_choices_to_enum(self):
        # json_schema_test.exs:322-334
        s = Schema.define(
            [
                ("status", "string", {"choices": ["active", "inactive", "pending"]}),
                ("priority", "integer", {"choices": [1, 2, 3]}),
            ]
        )
        props = generate(s)["properties"]
        assert props["status"]["enum"] == ["active", "inactive", "pending"]
        assert props["priority"]["enum"] == [1, 2, 3]

    def test_multiple_constraints_single_field(self):
        # json_schema_test.exs:336-356
        s = Schema.define(
            [
                (
                    "code",
                    "string",
                    {
                        "min_length": 3,
                        "max_length": 10,
                        "format": r"^[A-Z]",
                        "choices": ["ABC", "DEF", "GHI"],
                    },
                )
            ]
        )
        code = generate(s)["properties"]["code"]
        assert code["minLength"] == 3
        assert code["maxLength"] == 10
        assert code["pattern"] == "^[A-Z]"
        assert code["enum"] == ["ABC", "DEF", "GHI"]


class TestFieldMetadata:
    def test_examples(self):
        # json_schema_test.exs:360-372
        s = Schema.define(
            [
                ("name", "string", {"example": "John Doe"}),
                ("age", "integer", {"example": 30}),
            ]
        )
        props = generate(s)["properties"]
        assert props["name"]["examples"] == ["John Doe"]
        assert props["age"]["examples"] == [30]

    def test_defaults(self):
        # json_schema_test.exs:374-386
        s = Schema.define(
            [
                ("active", "boolean", {"optional": True, "default": True}),
                ("count", "integer", {"optional": True, "default": 0}),
            ]
        )
        props = generate(s)["properties"]
        assert props["active"]["default"] is True
        assert props["count"]["default"] == 0

    def test_omits_nil_defaults(self):
        # json_schema_test.exs:388-398
        s = Schema.define([("nullable", "string", {"optional": True, "default": None})])
        assert "default" not in generate(s)["properties"]["nullable"]


class TestSchemaMetadata:
    def test_includes_sinter_metadata(self):
        # json_schema_test.exs:402-413
        js = generate(make_schema())
        assert "x-sinter-version" in js
        assert "x-sinter-field-count" in js
        assert "x-sinter-created-at" in js
        assert js["x-sinter-field-count"] == 4
        assert isinstance(js["x-sinter-version"], str)
        assert isinstance(js["x-sinter-created-at"], str)

    def test_iso8601_timestamp(self):
        # json_schema_test.exs:415-423
        ts = generate(make_schema())["x-sinter-created-at"]
        assert datetime.fromisoformat(ts) is not None


class TestProviderOptimizations:
    def test_generic_equals_standard(self):
        # json_schema_test.exs:427-434 — identical up to the creation
        # timestamp (each define() stamps its own)
        s = make_schema()
        a = for_provider(s, "generic")
        b = generate(s)
        assert a == b

    def test_openai(self):
        # json_schema_test.exs:436-447
        js = for_provider(make_schema(), "openai")
        assert js["$schema"] == "http://json-schema.org/draft-07/schema#"
        assert js["additionalProperties"] is False
        assert isinstance(js["required"], list)

    def test_anthropic(self):
        # json_schema_test.exs:449-460
        js = for_provider(make_schema(), "anthropic")
        assert js["$schema"] == "http://json-schema.org/draft-07/schema#"
        assert js["additionalProperties"] is False
        assert isinstance(js["required"], list)

    def test_recursive_strictness(self):
        # json_schema_test.exs:462-476
        inner = Schema.define([("name", "string")])
        s = Schema.define([("profile", ("object", inner))])
        js = for_provider(s, "openai")
        assert js["additionalProperties"] is False
        assert js["properties"]["profile"]["additionalProperties"] is False

    def test_openai_removes_unsupported_formats(self):
        # json_schema_test.exs:478-491
        s = Schema.define([("email", "string", {"format": r".+@.+"}), ("name", "string")])
        js = for_provider(s, "openai")
        assert isinstance(js["properties"]["email"], dict)
        assert isinstance(js["properties"]["name"], dict)
        # format *keywords* are stripped, pattern survives
        typed = Schema.define([("d", "date"), ("dt", "datetime")])
        js2 = for_provider(typed, "openai")
        assert "format" not in js2["properties"]["d"]
        assert js2["properties"]["dt"]["format"] == "date-time"  # exact-match list

    def test_simplifies_complex_unions_openai(self):
        # json_schema_test.exs:493-510
        s = Schema.define(
            [("value", ("union", ["string", "integer", "float", "boolean", "atom"]))]
        )
        js = for_provider(s, "openai")
        value = js["properties"]["value"]
        assert len(value["oneOf"]) <= 3

    def test_provider_optimizations_inside_variants(self):
        # json_schema_test.exs:512-537
        variant = Schema.define(
            [
                ("type", ("literal", "complex")),
                ("value", ("union", ["string", "integer", "float", "boolean", "atom"])),
            ]
        )
        s = Schema.define([("item", ("discriminated_union", "type", {"complex": variant}))])
        js = for_provider(s, "openai")
        (variant_schema,) = js["properties"]["item"]["oneOf"]
        value = variant_schema["properties"]["value"]
        assert len(value["oneOf"]) <= 3

    def test_ensures_object_properties_anthropic(self):
        # json_schema_test.exs:539-547
        js = for_provider(Schema.define([], title="Empty Schema"), "anthropic")
        assert js["type"] == "object"
        assert "properties" in js


class TestValidateSchema:
    def test_valid_schema(self):
        # json_schema_test.exs:551-561
        ok, _ = validate_schema(
            {
                "type": "object",
                "properties": {"name": {"type": "string"}},
                "required": ["name"],
            }
        )
        assert ok

    def test_rejects_unknown_meta_schema(self):
        # json_schema_test.exs:563-571
        ok, msg = validate_schema(
            {"$schema": "https://example.com/unknown-schema", "type": "object"}
        )
        assert not ok
        assert "could not build" in msg

    def test_unknown_meta_schema_skips_deprecated_fallback(self):
        # jsonschema warns (and will raise) when validator_for meets an
        # unknown $schema; the structural check must reject it first
        with warnings.catch_warnings():
            warnings.simplefilter("error", DeprecationWarning)
            ok, msg = validate_schema(
                {"$schema": "https://example.com/unknown-schema", "type": "object"}
            )
        assert not ok
        assert msg == "could not build: unknown meta-schema https://example.com/unknown-schema"

    def test_rejects_invalid_type(self):
        # json_schema_test.exs:573-580
        ok, msg = validate_schema({"type": "not-a-type"})
        assert not ok
        assert "could not build" in msg

    def test_rejects_invalid_keyword_value(self):
        # json_schema_test.exs:582-590
        ok, msg = validate_schema({"type": "string", "minLength": "ten"})
        assert not ok
        assert "could not build" in msg

    def test_draft_override_reaches_generation_and_meta(self):
        # regression: draft was accepted but never forwarded — a Schema
        # validated "under draft7" was generated and checked as 2020-12
        from sinter_spark.schema import Schema

        s = Schema.define([("name", "string")])
        ok, _ = validate_schema(s, draft="draft7")
        assert ok
        # the draft must also override a document's own $schema
        doc = {"$schema": "https://json-schema.org/draft/2020-12/schema", "type": "object"}
        ok, _ = validate_schema(doc, draft="draft7")
        assert ok


class TestComplexScenarios:
    def test_deeply_nested(self):
        # json_schema_test.exs:594-609
        s = Schema.define(
            [
                ("user", "map"),
                ("posts", ("array", "map"), {"optional": True}),
                ("metadata", ("map", "string", "any"), {"optional": True}),
            ]
        )
        js = generate(s)
        assert js["properties"]["user"]["type"] == "object"
        assert js["properties"]["posts"]["type"] == "array"
        assert js["properties"]["posts"]["items"]["type"] == "object"
        assert js["properties"]["metadata"]["type"] == "object"

    def test_no_required_fields(self):
        # json_schema_test.exs:611-623
        s = Schema.define(
            [("optional1", "string", {"optional": True}), ("optional2", "integer", {"optional": True})]
        )
        js = generate(s)
        assert js["required"] == []
        assert "optional1" in js["properties"] and "optional2" in js["properties"]

    def test_array_of_arrays(self):
        # json_schema_test.exs:625-637
        s = Schema.define([("items", ("array", ("array", "string")))])
        items = generate(s)["properties"]["items"]
        assert items["type"] == "array"
        assert items["items"]["type"] == "array"
        assert items["items"]["items"]["type"] == "string"

    def test_union_with_nested_types(self):
        # json_schema_test.exs:639-654
        s = Schema.define([("flexible", ("union", ["string", ("array", "integer"), "map"]))])
        flexible = generate(s)["properties"]["flexible"]
        assert flexible["oneOf"] == [
            {"type": "string"},
            {"type": "array", "items": {"type": "integer"}},
            {"type": "object", "additionalProperties": True},
        ]

    def test_preserves_field_order(self):
        # json_schema_test.exs:656-672 — insertion order, not alphabetical
        s = Schema.define([("zebra", "string"), ("alpha", "string"), ("middle", "string")])
        keys = list(generate(s)["properties"])
        assert keys == ["zebra", "alpha", "middle"]


class TestEdgeCases:
    def test_empty_schema(self):
        # json_schema_test.exs:676-684
        js = generate(Schema.define([]))
        assert js["type"] == "object"
        assert js["properties"] == {}
        assert js["required"] == []

    def test_only_optional_fields(self):
        # json_schema_test.exs:686-697
        s = Schema.define(
            [("opt1", "string", {"optional": True}), ("opt2", "integer", {"optional": True})]
        )
        js = generate(s)
        assert js["required"] == []
        assert len(js["properties"]) == 2

    def test_very_long_field_names(self):
        # json_schema_test.exs:699-710
        long_name = "field" * 50
        js = generate(Schema.define([(long_name, "string")]))
        assert long_name in js["properties"]

    def test_unicode_descriptions(self):
        # json_schema_test.exs:712-722
        s = Schema.define(
            [("unicode_field", "string", {"description": "Field with émojis 🚀 and ñ"})]
        )
        js = generate(s)
        assert js["properties"]["unicode_field"]["description"] == "Field with émojis 🚀 and ñ"

    def test_alias_named_properties(self):
        # json_schema.ex:213-223,422-430 — alias wins as property name and
        # in the required list
        s = Schema.define([("user_id", "string", {"alias": "userId"})])
        js = generate(s)
        assert "userId" in js["properties"]
        assert "user_id" not in js["properties"]
        assert js["required"] == ["userId"]


class TestSpecCompliance:
    def test_draft_2020_12_default(self):
        # json_schema_test.exs:740-770
        s = Schema.define(
            [
                ("name", "string", {"min_length": 1}),
                ("age", "integer", {"optional": True, "gteq": 0, "lteq": 150}),
                ("email", "string", {"optional": True, "format": r".+@.+"}),
                ("tags", ("array", "string"), {"optional": True, "min_items": 1, "max_items": 10}),
            ]
        )
        js = generate(s)
        assert js["$schema"] == "https://json-schema.org/draft/2020-12/schema"
        assert js["type"] == "object"
        props = js["properties"]
        assert props["name"]["minLength"] == 1
        assert props["age"]["minimum"] == 0
        assert props["age"]["maximum"] == 150
        assert props["tags"]["minItems"] == 1
        assert props["tags"]["maxItems"] == 10

    def test_draft7_option(self):
        # json_schema_test.exs:772-784
        s = Schema.define([("name", "string"), ("age", "integer", {"optional": True})])
        js = generate(s, draft="draft7")
        assert js["$schema"] == "http://json-schema.org/draft-07/schema#"
        assert js["properties"]["name"]["type"] == "string"

    def test_complex_nested_structures(self):
        # json_schema_test.exs:786-820
        s = Schema.define(
            [
                ("user", ("map", "string", "any")),
                ("coordinates", ("tuple", ["float", "float"]), {"optional": True}),
                ("options", ("union", ["string", ("array", "string")]), {"optional": True}),
            ]
        )
        props = generate(s)["properties"]
        assert props["user"]["type"] == "object"
        assert props["user"]["additionalProperties"] is True
        assert props["coordinates"]["prefixItems"] == [{"type": "number"}, {"type": "number"}]
        assert props["options"]["oneOf"] == [
            {"type": "string"},
            {"type": "array", "items": {"type": "string"}},
        ]

    @pytest.mark.parametrize("provider", ["openai", "anthropic", "generic"])
    def test_provider_compliance(self, provider):
        # json_schema_test.exs:822-852
        js = for_provider(Schema.define([("data", "map")]), provider)
        assert js["type"] == "object"
        assert isinstance(js["properties"], dict)
        assert isinstance(js["required"], list)
        if provider in ("openai", "anthropic"):
            assert js["additionalProperties"] is False


class TestDiscriminatedUnionHoisting:
    def test_hoists_to_defs_with_path_names(self):
        # json_schema.ex:563-641 — inline oneOf + mapping into $defs with
        # path-derived definition names
        circle = Schema.define([("kind", ("literal", "circle")), ("r", "float")])
        square = Schema.define([("kind", ("literal", "square")), ("side", "float")])
        s = Schema.define([("shape", ("discriminated_union", "kind", {"circle": circle, "square": square}))])
        js = generate(s)
        shape = js["properties"]["shape"]
        assert shape["discriminator"]["propertyName"] == "kind"
        assert len(shape["oneOf"]) == 2
        mapping = shape["discriminator"]["mapping"]
        assert mapping["circle"] == "#/$defs/properties__shape__circle"
        assert "properties__shape__circle" in js["$defs"]
        assert "properties__shape__square" in js["$defs"]
        # variants force the discriminator into required
        assert "kind" in js["$defs"]["properties__shape__circle"]["required"]

    def test_draft7_uses_definitions_key(self):
        circle = Schema.define([("kind", ("literal", "circle"))])
        s = Schema.define([("shape", ("discriminated_union", "kind", {"circle": circle}))])
        js = generate(s, draft="draft7")
        assert "definitions" in js and "$defs" not in js
        mapping = js["properties"]["shape"]["discriminator"]["mapping"]
        assert mapping["circle"].startswith("#/definitions/")


class TestGeneratedSchemasMetaValid:
    def test_generated_docs_pass_meta_validation(self):
        # json_schema.ex:176-188 — everything generate() emits must build
        for opts in ({}, {"strict": True}, {"draft": "draft7"}):
            ok, msg = validate_schema(generate(make_schema(), **opts))
            assert ok, msg
        for provider in ("openai", "anthropic"):
            ok, msg = validate_schema(for_provider(make_schema(), provider))
            assert ok, msg
