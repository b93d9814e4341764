"""Expansion Algorithm + Value Expansion (W3C JSON-LD 1.1 API §5.1, §5.3).

Reference parity: lib/json/ld/expansion.ex:20-856 in /root/reference
(behavior matched via the W3C expand test suite; code written from the
public spec).

Frame expansion (options.frame_expansion) follows the reference's
branches (expansion.ex:22-25 @default reset, :252 only-@id retention,
:356-413 @value/@language/@direction patterns, :493-499 framing
keywords) and additionally accepts the @id/@type frame patterns the
framing spec requires ({} wildcards, @id string arrays, value-pattern
arrays) — the reference raises on those, leaving its frame expansion
unusable for actual framing; divergences are marked "beyond reference"
inline.

This module is pure Python and runs per-document; in the Spark pipeline it
executes inside Arrow-batched pandas UDFs (one call per document, amortized
over Arrow batches — see jsonld_ex_spark.operators.kg_pipeline).
"""

from __future__ import annotations

import dataclasses
from typing import Any

from jsonld_ex_spark.core import errors as err
from jsonld_ex_spark.core.context import (
    UNSET,
    Context,
    Options,
    expand_iri,
    process_context,
)
from jsonld_ex_spark.core.errors import JsonLdError
from jsonld_ex_spark.core.iri import is_absolute_iri
from jsonld_ex_spark.core.utils import (
    as_list,
    has_keyword_form,
    is_blank_node_id,
    is_graph_object,
    is_keyword,
    is_list_object,
    is_scalar,
    is_value_object,
)

_VALUE_OBJECT_KEYS = {"@value", "@language", "@type", "@index", "@direction"}


def expand(
    active: Context,
    active_property: str | None,
    element: Any,
    options: Options,
    base_url: str | None = None,
    from_map: bool = False,
) -> Any:
    """Expansion Algorithm (spec §5.1.2)."""
    if element is None:
        return None

    # 2) inside an @default value the frameExpansion flag resets — default
    # values are DATA to inject, not patterns (reference expansion.ex:22-25)
    if active_property == "@default" and options.frame_expansion:
        options = dataclasses.replace(options, frame_expansion=False)

    td = active.term_defs.get(active_property) if active_property else None
    property_scoped_ctx = td.local_context if td is not None and td.local_context is not UNSET else UNSET
    psc_base = td.base_url if td is not None else None

    if is_scalar(element):
        if active_property is None or active_property == "@graph":
            return None
        if property_scoped_ctx is not UNSET:
            active = process_context(active, property_scoped_ctx, options, base_url=psc_base)
        return expand_value(active, active_property, element, options)

    if isinstance(element, list):
        result: list = []
        container = td.container_mapping if td is not None else frozenset()
        for item in element:
            expanded_item = expand(active, active_property, item, options, base_url=base_url, from_map=from_map)
            if "@list" in container and isinstance(expanded_item, list):
                expanded_item = {"@list": expanded_item}
            if isinstance(expanded_item, list):
                result.extend(expanded_item)
            elif expanded_item is not None:
                result.append(expanded_item)
        return result

    if not isinstance(element, dict):
        return None

    # 7: revert to previous context unless value object / only-@id / from map
    if active.previous_context is not None and not from_map:
        keys_expanded = [expand_iri(active, k, options, vocab=True) for k in element]
        has_value = "@value" in keys_expanded
        only_id = len(element) == 1 and keys_expanded == ["@id"]
        if not has_value and not only_id:
            active = active.previous_context

    # 8: property-scoped context (override protected)
    if property_scoped_ctx is not UNSET:
        active = process_context(
            active, property_scoped_ctx, options,
            base_url=psc_base, override_protected=True,
        )

    # 9: inline @context
    if "@context" in element:
        active = process_context(active, element["@context"], options, base_url=base_url)

    # 10: type-scoped contexts
    type_scoped = active
    input_type: str | None = None
    for key in sorted(element.keys()):
        if expand_iri(type_scoped, key, options, vocab=True) != "@type":
            continue
        values = as_list(element[key])
        for term in sorted((v for v in values if isinstance(v, str)), key=str):
            ttd = type_scoped.term_defs.get(term)
            if ttd is not None and ttd.local_context is not UNSET:
                active = process_context(
                    active, ttd.local_context, options,
                    base_url=ttd.base_url, propagate=False,
                )
        if values and isinstance(values[-1], str):
            input_type = expand_iri(active, values[-1], options, vocab=True)

    result: dict[str, Any] = {}
    nests: list[str] = []

    _expand_element(
        active, type_scoped, active_property, element, result, nests,
        input_type, options, base_url,
    )

    # 15: value object validation
    if "@value" in result:
        keys = set(result.keys())
        if not keys <= _VALUE_OBJECT_KEYS:
            raise JsonLdError(err.INVALID_VALUE_OBJECT, repr(sorted(keys)))
        if ("@language" in keys or "@direction" in keys) and "@type" in keys:
            raise JsonLdError(err.INVALID_VALUE_OBJECT, "@language/@direction with @type")
        if result.get("@type") == "@json":
            pass  # JSON literal: any value allowed
        else:
            value = result["@value"]
            if value is None or (isinstance(value, list) and not value):
                # frame value patterns keep empty arrays (match-none);
                # data expansion drops them (spec 15.3)
                if not options.frame_expansion:
                    return None
            if (
                "@language" in keys
                and not isinstance(value, str)
                and not options.frame_expansion  # value may be an array pattern
            ):
                raise JsonLdError(err.INVALID_LANGUAGE_TAGGED_VALUE, repr(value))
            if "@type" in keys:
                t = result["@type"]
                ok = isinstance(t, str) and is_absolute_iri(t)
                if not ok and options.frame_expansion:
                    # frame type patterns: [] / [{}] / array of absolute IRIs
                    ok = isinstance(t, list) and all(
                        v == {} or (isinstance(v, str) and is_absolute_iri(v)) for v in t
                    )
                if not ok:
                    raise JsonLdError(err.INVALID_TYPED_VALUE, repr(t))
    elif "@type" in result and not isinstance(result["@type"], list):
        result["@type"] = [result["@type"]]
    elif "@set" in result or "@list" in result:
        keys = set(result.keys())
        if not keys <= {"@set", "@list", "@index"}:
            raise JsonLdError(err.INVALID_SET_OR_LIST_OBJECT, repr(sorted(keys)))
        if "@set" in result:
            return result["@set"]

    if isinstance(result, dict):
        if set(result.keys()) == {"@language"}:
            return None
        if active_property is None or active_property == "@graph":
            if not result or "@value" in result or "@list" in result:
                return None
            # 19) an only-@id map survives under frame expansion — it is a
            # node PATTERN, not a free-floating node (reference :252)
            if set(result.keys()) == {"@id"} and not options.frame_expansion:
                return None
    return result


def expanded_array(result: Any) -> list:
    """The expand API's last step over the algorithm's result (spec
    §9.1 step 8): an only-``@graph`` map unwraps, null becomes ``[]``
    and a single object becomes a one-item array."""
    if isinstance(result, dict) and set(result.keys()) == {"@graph"}:
        result = result["@graph"]
    if result is None:
        return []
    return result if isinstance(result, list) else [result]


def _expand_element(
    active: Context,
    type_scoped: Context,
    active_property: str | None,
    element: dict,
    result: dict,
    nests: list[str],
    input_type: str | None,
    options: Options,
    base_url: str | None,
) -> None:
    """Spec §5.1.2 steps 13-14 (key loop + @nest recursion)."""
    # per-context key-dispatch cache: key → (expanded_property, is_kw, td)
    # (invalidated together with the iri cache on context mutation)
    key_cache = active.__dict__.get("_iri_cache")
    if key_cache is None:
        key_cache = {}
        active.__dict__["_iri_cache"] = key_cache

    # keys always iterated sorted: output ARRAY order is only affected
    # when two keys expand to the same property (e.g. aliased @type) and
    # sorted iteration makes that merge deterministic — matching the
    # reference (Elixir small maps iterate key-sorted) in unordered mode
    for key in sorted(element.keys()):
        if key == "@context":
            continue
        value = element[key]
        dispatch = key_cache.get(("#k", key))
        if dispatch is None:
            expanded_property = expand_iri(active, key, options, vocab=True)
            skip = expanded_property is None or (
                isinstance(expanded_property, str)
                and ":" not in expanded_property
                and not is_keyword(expanded_property)
            )
            dispatch = (
                expanded_property,
                (not skip) and is_keyword(expanded_property),
                skip,
            )
            key_cache[("#k", key)] = dispatch
        expanded_property, is_kw, skip = dispatch
        if skip:
            continue

        if is_kw:
            _expand_keyword(
                active, type_scoped, active_property, key, value, expanded_property,
                result, nests, input_type, options, base_url,
            )
            continue

        td = active.term_defs.get(key)
        container = td.container_mapping if td is not None else frozenset()

        if td is not None and td.type_mapping == "@json" and not options.is_1_0:
            expanded_value: Any = {"@value": value, "@type": "@json"}
        elif (td is None or td.local_context is UNSET) and type(value) in (str, int, float, bool):
            # fast path: scalar value, no property-scoped context — skip
            # the generic expand() dispatch (hot path: most properties in
            # data pipelines are scalars)
            expanded_value = expand_value(active, key, value, options)
        elif (
            (td is None or td.local_context is UNSET)
            and type(value) is list
            and "@list" not in container
            and all(type(v) in (str, int, float, bool) for v in value)
        ):
            expanded_value = [expand_value(active, key, v, options) for v in value]
        elif "@language" in container and isinstance(value, dict):
            expanded_value = _expand_language_map(active, td, value, options)
        elif ("@index" in container or "@type" in container or "@id" in container) and isinstance(value, dict):
            expanded_value = _expand_index_map(active, td, key, value, container, options, base_url)
        else:
            expanded_value = expand(active, key, value, options, base_url=base_url)

        if expanded_value is None:
            continue
        if "@list" in container and not is_list_object(expanded_value):
            expanded_value = {"@list": as_list(expanded_value)}
        if "@graph" in container and "@id" not in container and "@index" not in container:
            expanded_value = [{"@graph": as_list(ev)} for ev in as_list(expanded_value)]

        if td is not None and td.reverse_property:
            reverse_map = result.setdefault("@reverse", {})
            for item in as_list(expanded_value):
                if is_value_object(item) or is_list_object(item):
                    raise JsonLdError(err.INVALID_REVERSE_PROPERTY_VALUE, repr(item))
                reverse_map.setdefault(expanded_property, []).append(item)
        else:
            result.setdefault(expanded_property, []).extend(as_list(expanded_value))

    # 14: @nest recursion (property-scoped context of the @nest alias applies)
    for nest_key in (sorted(nests) if options.ordered else nests):
        nest_active = active
        nest_td = active.term_defs.get(nest_key)
        if nest_td is not None and nest_td.local_context is not UNSET:
            nest_active = process_context(
                active, nest_td.local_context, options,
                base_url=nest_td.base_url, override_protected=True,
            )
        for nested_value in as_list(element[nest_key]):
            if not isinstance(nested_value, dict) or any(
                expand_iri(nest_active, nk, options, vocab=True) == "@value" for nk in nested_value
            ):
                raise JsonLdError(err.INVALID_NEST_VALUE, repr(nested_value))
            inner_nests: list[str] = []
            _expand_element(
                nest_active, type_scoped, active_property, nested_value, result,
                inner_nests, input_type, options, base_url,
            )


def _expand_keyword(
    active: Context,
    type_scoped: Context,
    active_property: str | None,
    key: str,
    value: Any,
    expanded_property: str,
    result: dict,
    nests: list[str],
    input_type: str | None,
    options: Options,
    base_url: str | None,
) -> None:
    """Spec §5.1.2 step 13.4."""
    if active_property == "@reverse":
        raise JsonLdError(err.INVALID_REVERSE_PROPERTY_MAP, key)
    if expanded_property in result and expanded_property not in ("@included", "@type"):
        raise JsonLdError(err.COLLIDING_KEYWORDS, expanded_property)
    if expanded_property in result and options.is_1_0:
        raise JsonLdError(err.COLLIDING_KEYWORDS, expanded_property)

    if expanded_property == "@id":
        if isinstance(value, str):
            result["@id"] = expand_iri(active, value, options, document_relative=True)
        elif options.frame_expansion and value == {}:
            # frame pattern: {} = "node has SOME @id" wildcard
            # (beyond reference, which raises — framing-spec frame validity)
            result["@id"] = [{}]
        elif (
            options.frame_expansion
            and isinstance(value, list)
            and all(isinstance(v, str) for v in value)
        ):
            # frame pattern: match any of these ids (beyond reference)
            result["@id"] = [
                expand_iri(active, v, options, document_relative=True) for v in value
            ]
        else:
            raise JsonLdError(err.INVALID_ID_VALUE, repr(value))
        return

    if expanded_property == "@type":
        if isinstance(value, str):
            expanded_t: Any = expand_iri(type_scoped, value, options, vocab=True, document_relative=True)
        elif isinstance(value, list) and all(isinstance(v, str) for v in value):
            expanded_t = [
                expand_iri(type_scoped, v, options, vocab=True, document_relative=True) for v in value
            ]
        elif options.frame_expansion and value == {}:
            # frame pattern: {} = "node has SOME @type" (beyond reference)
            expanded_t = [{}]
        elif (
            options.frame_expansion
            and isinstance(value, dict)
            and set(value.keys()) == {"@default"}
        ):
            # frame default object for @type (beyond reference)
            expanded_t = {
                "@default": [
                    expand_iri(type_scoped, v, options, vocab=True, document_relative=True)
                    for v in as_list(value["@default"])
                ]
            }
        else:
            raise JsonLdError(err.INVALID_TYPE_VALUE, repr(value))
        if "@type" in result:
            expanded_t = as_list(result["@type"]) + as_list(expanded_t)
        result["@type"] = expanded_t
        return

    if expanded_property == "@graph":
        expanded_v = expand(active, "@graph", value, options, base_url=base_url)
        result["@graph"] = as_list(expanded_v) if expanded_v is not None else []
        return

    if expanded_property == "@included":
        if options.is_1_0:
            return
        expanded_v = expand(active, None, value, options, base_url=base_url)
        if expanded_v is None:
            raise JsonLdError(err.INVALID_INCLUDED_VALUE, repr(value))
        expanded_v = as_list(expanded_v)
        if any(not isinstance(n, dict) or "@value" in n or "@list" in n for n in expanded_v):
            raise JsonLdError(err.INVALID_INCLUDED_VALUE, repr(value))
        if "@included" in result:
            expanded_v = result["@included"] + expanded_v
        result["@included"] = expanded_v
        return

    if expanded_property == "@value":
        if input_type == "@json" and not options.is_1_0:
            result["@value"] = value
            return
        # 13.4.7 frame branches (reference expansion.ex:356-359): a value
        # array pattern is kept verbatim, {} wildcard becomes [{}]
        if options.frame_expansion and isinstance(value, list):
            result["@value"] = value
            return
        if options.frame_expansion and value == {}:
            result["@value"] = [value]
            return
        if value is not None and not is_scalar(value):
            raise JsonLdError(err.INVALID_VALUE_OBJECT_VALUE, repr(value))
        result["@value"] = value
        return

    if expanded_property == "@language":
        # 13.4.8 frame branches (reference :376-403): list patterns are
        # normalized per item, {} → [{}], strings wrap in an array
        if options.frame_expansion and isinstance(value, list):
            if not all(isinstance(v, str) for v in value):
                raise JsonLdError(err.INVALID_LANGUAGE_TAGGED_STRING, repr(value))
            result["@language"] = [
                v.lower() if options.lowercase_language else v for v in value
            ]
            return
        if options.frame_expansion and value == {}:
            result["@language"] = [value]
            return
        if not isinstance(value, str):
            raise JsonLdError(err.INVALID_LANGUAGE_TAGGED_STRING, repr(value))
        normalized = value.lower() if options.lowercase_language else value
        result["@language"] = [normalized] if options.frame_expansion else normalized
        return

    if expanded_property == "@direction":
        if options.is_1_0:
            return
        # 13.4.9 frame branches (reference :405-413)
        if value in ("ltr", "rtl"):
            result["@direction"] = [value] if options.frame_expansion else value
            return
        if (
            options.frame_expansion
            and isinstance(value, list)
            and all(v in ("ltr", "rtl") for v in value)
        ):
            result["@direction"] = value
            return
        if options.frame_expansion and value == {}:
            result["@direction"] = [value]
            return
        raise JsonLdError(err.INVALID_BASE_DIRECTION, repr(value))

    if expanded_property == "@index":
        if not isinstance(value, str):
            raise JsonLdError(err.INVALID_INDEX_VALUE, repr(value))
        result["@index"] = value
        return

    if expanded_property == "@list":
        if active_property is None or active_property == "@graph":
            return
        expanded_v = expand(active, active_property, value, options, base_url=base_url)
        result["@list"] = as_list(expanded_v) if expanded_v is not None else []
        return

    if expanded_property == "@set":
        result["@set"] = expand(active, active_property, value, options, base_url=base_url)
        return

    if expanded_property == "@reverse":
        if not isinstance(value, dict):
            raise JsonLdError(err.INVALID_REVERSE_VALUE, repr(value))
        expanded_v = expand(active, "@reverse", value, options, base_url=base_url)
        if isinstance(expanded_v, dict) and "@reverse" in expanded_v:
            for prop, items in expanded_v["@reverse"].items():
                result.setdefault(prop, []).extend(as_list(items))
        if isinstance(expanded_v, dict):
            reverse_map = None
            for prop, items in expanded_v.items():
                if prop == "@reverse":
                    continue
                if reverse_map is None:
                    reverse_map = result.setdefault("@reverse", {})
                for item in as_list(items):
                    if is_value_object(item) or is_list_object(item):
                        raise JsonLdError(err.INVALID_REVERSE_PROPERTY_VALUE, repr(item))
                    reverse_map.setdefault(prop, []).append(item)
        return

    if expanded_property == "@nest":
        nests.append(key)
        return

    # 13.4.15) framing keywords expand recursively under frame expansion
    # (reference :493-499); @default's subtree resets the flag (step 2)
    if options.frame_expansion and expanded_property in (
        "@default", "@embed", "@explicit", "@omitDefault", "@requireAll"
    ):
        expanded_v = expand(active, expanded_property, value, options, base_url=base_url)
        result[expanded_property] = as_list(expanded_v) if expanded_v is not None else []
        return

    # other keywords: ignored
    return


def _expand_language_map(active: Context, td, value: dict, options: Options) -> list:
    """Spec §5.1.2 step 13.7 (language maps)."""
    direction = active.base_direction
    if td is not None and td.direction_mapping is not UNSET:
        direction = td.direction_mapping
    result = []
    # always key-sorted: output order for map containers is unconstrained
    # by the spec in unordered mode; sorted matches the golden fixtures
    # (and the reference, whose Elixir maps iterate sorted)
    for language in sorted(value.keys()):
        for item in as_list(value[language]):
            if item is None:
                continue
            if not isinstance(item, str):
                raise JsonLdError(err.INVALID_LANGUAGE_MAP_VALUE, repr(item))
            v: dict[str, Any] = {"@value": item}
            expanded_language = expand_iri(active, language, options, vocab=True)
            if expanded_language != "@none":
                v["@language"] = language.lower() if options.lowercase_language else language
            if direction is not None:
                v["@direction"] = direction
            result.append(v)
    return result


def _expand_index_map(
    active: Context,
    td,
    key: str,
    value: dict,
    container: frozenset,
    options: Options,
    base_url: str | None,
) -> list:
    """Spec §5.1.2 step 13.8 (index/id/type maps)."""
    index_key = (td.index_mapping if td is not None else None) or "@index"
    result = []
    for index in sorted(value.keys()):  # see note in _expand_language_map

        map_context = active
        if ("@id" in container or "@type" in container) and active.previous_context is not None:
            map_context = active.previous_context
        if "@type" in container:
            itd = map_context.term_defs.get(index)
            if itd is not None and itd.local_context is not UNSET:
                map_context = process_context(map_context, itd.local_context, options, base_url=itd.base_url)
            else:
                map_context = active
        else:
            map_context = active if "@type" not in container else map_context

        expanded_index = expand_iri(active, index, options, vocab=True)
        index_value = expand(map_context, key, as_list(value[index]), options, base_url=base_url, from_map=True)

        for item in as_list(index_value):
            if "@graph" in container and not is_graph_object(item):
                item = {"@graph": as_list(item)}
            if "@index" in container and index_key != "@index" and expanded_index != "@none":
                re_expanded_index = expand_value(active, index_key, index, options)
                expanded_index_key = expand_iri(active, index_key, options, vocab=True)
                if is_value_object(item):
                    raise JsonLdError(err.INVALID_VALUE_OBJECT, "property-valued index on value object")
                item[expanded_index_key] = [re_expanded_index] + as_list(item.get(expanded_index_key, []))
            elif "@index" in container and "@index" not in item and expanded_index != "@none":
                item["@index"] = index
            elif "@id" in container and "@id" not in item and expanded_index != "@none":
                expanded_id = expand_iri(active, index, options, document_relative=True)
                item["@id"] = expanded_id
            elif "@type" in container and expanded_index != "@none":
                item["@type"] = [expanded_index] + as_list(item.get("@type", []))
            result.append(item)
    return result


def expand_value(active: Context, active_property: str | None, value: Any, options: Options) -> Any:
    """Value Expansion (spec §5.3.2)."""
    td = active.term_defs.get(active_property) if active_property else None
    type_mapping = td.type_mapping if td is not None else None

    if type_mapping == "@id" and isinstance(value, str):
        return {"@id": expand_iri(active, value, options, document_relative=True)}
    if type_mapping == "@vocab" and isinstance(value, str):
        return {"@id": expand_iri(active, value, options, document_relative=True, vocab=True)}

    result: dict[str, Any] = {"@value": value}
    if type_mapping not in (None, "@id", "@vocab", "@none"):
        result["@type"] = type_mapping
    elif isinstance(value, str):
        if td is not None and td.language_mapping is not UNSET:
            language = td.language_mapping
        else:
            language = active.default_language
        if td is not None and td.direction_mapping is not UNSET:
            direction = td.direction_mapping
        else:
            direction = active.base_direction
        if language is not None:
            result["@language"] = language
        if direction is not None:
            result["@direction"] = direction
    return result
