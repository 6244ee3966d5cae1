"""Loader for the ported reference metadata corpus (the YAML files under
``hbsir_old_spark/metadata/yaml/``) and the adapters that turn the raw
reference layout into the engine's dict shapes.

Reference parity:

* ``open_yaml`` + the ``{{placeholder}}`` template interpreter —
  /root/reference/hbsir/core/metadata_reader.py:366-381: placeholders are
  collected from the text, resolved against the *items* of already-parsed
  classifications (``{{name}}`` -> ``context[name]["items"]``,
  ``{{name.item}}`` -> ``context[name]["items"][item]``), spliced back as
  Python-literal text, and the whole document re-parsed.
* the local-metadata override hook — metadata_reader.py:338-353: a
  same-named YAML in a user directory is parsed with the same interpreter
  (seeded with the package metadata as context, so local placeholders can
  reference package classifications) and its top-level keys update the
  package dict.
* availability parsing — parsing_utils.py:128-143: ``{start:}``-only specs
  are open-ended over the survey's year span.

Everything here is driver-side dict work; the outputs feed the existing
resolver (``metadata/versioning.py``) and compilers (``plans/``,
``operators/``) unchanged.
"""

from __future__ import annotations

import copy
import re
from functools import lru_cache
from dataclasses import dataclass, fields
from pathlib import Path
from typing import Any, Callable, Mapping

import yaml

from hbsir_old_spark.metadata.ranges import CodeRangeSet

#: the packaged corpus (ported reference metadata — data, not code)
PACKAGE_YAML_DIR = Path(__file__).parent / "yaml"

#: survey year span (reference default_settings.yaml:40-41)
FIRST_YEAR = 1363
LAST_YEAR = 1401

_PLACEHOLDER = re.compile(r"\{\{\s*(.*?)\s*\}\}")


def interpret_placeholders(yaml_text: str, context: Mapping | None = None) -> str:
    """Resolve ``{{name}}`` / ``{{name.item}}`` template placeholders
    (reference metadata_reader.py:366-381).

    The text is first parsed with placeholders blanked to collect the
    classification dicts they refer to; each placeholder then splices the
    referenced ``items`` dict (or one item of it) back into the text as a
    Python/YAML flow literal, and the caller re-parses the whole document.
    ``context`` seeds the lookup (used by the local-override hook so local
    files can reference package classifications); keys parsed from
    ``yaml_text`` itself win over the seed.
    """
    context = dict(context or {})
    context.update(yaml.safe_load(_PLACEHOLDER.sub("", yaml_text)) or {})
    replacements: dict[str, Any] = {}
    for placeholder in _PLACEHOLDER.findall(yaml_text):
        parts = placeholder.split(".")
        if len(parts) == 1:
            replacements[placeholder] = context[parts[0]]["items"]
        elif len(parts) == 2:
            replacements[placeholder] = context[parts[0]]["items"][parts[1]]
        else:
            raise ValueError(f"malformed placeholder {{{{{placeholder}}}}}")
    for placeholder, value in replacements.items():
        # literal replacement via a callable: the spliced dict text may
        # contain backslashes that re.sub would misread as group escapes
        yaml_text = re.sub(
            r"\{\{\s*" + re.escape(placeholder) + r"\s*\}\}",
            lambda _m, _v=str(value): _v,
            yaml_text,
        )
    return yaml_text


def open_yaml(
    path: str | Path,
    interpreter: Callable[[str], str] | None = None,
) -> dict:
    """Read one metadata YAML; the ``ANCHORS`` pseudo-section (anchor
    definitions only, consumed at parse time) is dropped from the result."""
    text = Path(path).read_text(encoding="utf-8")
    if interpreter is not None:
        text = interpreter(text)
    data = yaml.safe_load(text)
    if isinstance(data, dict):
        data.pop("ANCHORS", None)
    return data or {}


@dataclass
class MetadataCorpus:
    """The raw (un-adapted) reference metadata, one attribute per file."""

    instruction: dict
    tables: dict
    schema: dict
    household: dict
    commodities: dict
    occupations: dict
    external_data: dict
    other: dict
    maps: dict


#: files whose text runs through the placeholder interpreter before parsing
_INTERPRETED = {"commodities"}


@lru_cache(maxsize=64)
def _parse_package_yaml(path: str, interpreted: bool) -> dict:
    """Parse-once cache for the PACKAGE corpus files (static data shipped
    with the wheel — ~30k YAML lines; re-parsing per registry construction
    costs seconds of driver time). Callers deepcopy before mutating, so the
    cached master stays pristine. Local override files are NOT cached: they
    are user-editable and small."""
    return open_yaml(path, interpreter=interpret_placeholders if interpreted else None)


def load_corpus(
    package_dir: str | Path | None = None,
    local_dir: str | Path | None = None,
) -> MetadataCorpus:
    """Load the packaged corpus, applying the local-metadata override hook:
    for every file, a same-named YAML under ``local_dir`` is parsed (with
    the package metadata as placeholder context) and its top-level keys
    update the package dict (reference metadata_reader.py:338-353)."""
    package_dir = Path(package_dir or PACKAGE_YAML_DIR)
    local_dir = Path(local_dir) if local_dir is not None else None
    loaded: dict[str, dict] = {}
    for f in fields(MetadataCorpus):
        name = f.name
        file_name = "_instruction" if name == "instruction" else name
        data = copy.deepcopy(
            _parse_package_yaml(
                str(package_dir / f"{file_name}.yaml"), name in _INTERPRETED
            )
        )
        if local_dir is not None:
            local_path = local_dir / f"{file_name}.yaml"
            if local_path.exists():
                local_interp = (
                    (lambda text, _ctx=data: interpret_placeholders(text, _ctx))
                    if name in _INTERPRETED
                    else None
                )
                data.update(open_yaml(local_path, interpreter=local_interp))
        loaded[name] = data
    return MetadataCorpus(**loaded)


@lru_cache(maxsize=1)
def _shared_default_corpus() -> MetadataCorpus:
    """Process-wide SHARED default corpus (packaged files, no local
    overrides) for :func:`build_reference_registry`: deepcopying all nine
    parsed dicts per registry build costs more driver time than the YAML
    parse the lru_cache already removed. Safe to share because nothing
    downstream mutates raw metadata — ``resolve_versioned`` returns
    independent structures by contract (versioning.py:66) and the adapters
    copy what they reshape. Callers who want a private, mutable corpus use
    :func:`load_corpus` directly."""
    return load_corpus()


# -- adapters: reference layout -> engine dict shapes -----------------------


def engine_household(raw: Mapping) -> dict:
    """household.yaml -> the registry's household dict: ``id_length`` plus
    per-attribute digit positions and code->name mappings. Flat (unversioned)
    positions are floored at the corpus' first ID_Length year; a position
    version of ``null`` means "not decodable from the ID this year" and the
    decoder yields null over that span (e.g. County outside 1377-86/1392+,
    household.yaml:181-194)."""
    lengths = dict(raw["ID_Length"])
    floor = min(lengths)
    attributes: dict[str, dict] = {}
    for name, spec in raw.items():
        if name == "ID_Length" or not isinstance(spec, Mapping):
            continue
        code = spec.get("code")
        if not isinstance(code, Mapping) or "position" not in code:
            continue
        position = code["position"]
        if isinstance(position, Mapping) and (
            "start" in position or "end" in position
        ):
            position = {floor: dict(position)}
        attributes[name] = {
            "position": position,
            "mapping": spec.get("name"),
        }
    return {"id_length": lengths, "attributes": attributes}


def engine_classifications(raw: Mapping) -> dict:
    """commodities.yaml / occupations.yaml -> the classification dict the
    registry indexes by name: every top-level entry that declares ``items``
    (aliases like ``original_1363`` included — they are real, resolvable
    classifications in the reference too)."""
    return {
        name: spec
        for name, spec in raw.items()
        if isinstance(spec, Mapping) and "items" in spec
    }


def engine_cleaning_metadata(tables_raw: Mapping) -> dict:
    """tables.yaml -> per-table cleaning metadata for ``clean_table``:
    ``{columns, missings, file_code}``. (The engine's ``Urban_Rural``
    provenance column, added by the raw CSV loader, is passed through by
    ``clean_table`` itself — injecting it here would corrupt year-versioned
    columns dicts like durable's, tables.yaml:1512-1548.)"""
    skip = {"yearly_table_availability", "default_table_settings"}
    default_missings = (tables_raw.get("default_table_settings") or {}).get(
        "missings", "error"
    )
    out: dict[str, dict] = {}
    for name, spec in tables_raw.items():
        if name in skip or not isinstance(spec, Mapping):
            continue
        columns = spec.get("columns")
        if columns is None:
            continue
        out[name] = {
            "columns": copy.deepcopy(columns),
            "missings": (spec.get("settings") or {}).get(
                "missings", default_missings
            ),
            "file_code": spec.get("file_code"),
        }
    return out


def engine_schema(
    schema_raw: Mapping,
    tables_raw: Mapping | None = None,
    first_year: int = FIRST_YEAR,
    last_year: int = LAST_YEAR,
) -> dict:
    """schema.yaml (+ tables.yaml availability) -> the registry schema dict.

    ``yearly_table_availability`` specs are open-ended dicts/lists
    (parsing_utils.py:128-143); they are normalized to explicit
    ``{start, end}`` interval lists and injected as each table's ``years``
    key, which the registry's availability pruning already consumes."""
    schema = {
        name: copy.deepcopy(spec)
        for name, spec in schema_raw.items()
        if name != "ANCHORS"
    }
    availability = (tables_raw or {}).get("yearly_table_availability") or {}
    for table, spec in availability.items():
        crs = CodeRangeSet(
            spec, default_start=first_year, default_end=last_year + 1
        )
        entry = schema.setdefault(table, {})
        if isinstance(entry, Mapping) and "years" not in entry:
            entry["years"] = [
                {"start": s, "end": e} for s, e in crs.intervals()
            ]
    return schema


def reference_external_functions() -> dict:
    """The external-function allowlist for the real schema: the engine's
    short names plus the dotted module paths schema.yaml actually uses
    (schema.yaml:104,121 and the versioned create_season at :50)."""
    from hbsir_old_spark.functions.standard import (
        DEFAULT_EXTERNAL_FUNCTIONS,
        add_season,
        equivalence_scale,
        number_of_members,
    )

    fns = dict(DEFAULT_EXTERNAL_FUNCTIONS)
    fns.update(
        {
            "hbsir.schema_functions.standard_tables.create_season": add_season,
            "hbsir.schema_functions.standard_tables.number_of_members": number_of_members,
            "hbsir.schema_functions.standard_tables.equivalence_scale": equivalence_scale,
        }
    )
    return fns


def build_reference_registry(
    spark,
    corpus: MetadataCorpus | None = None,
    base_loader=None,
    raw_loader=None,
    cache=None,
    local_metadata_dir: str | Path | None = None,
    weight_year_threshold: int = 1395,
):
    """Wire the ported corpus into a :class:`TableRegistry`: real schema
    (with availability), real cleaning metadata, real household decoder
    inputs, and both classification families. A user of the reference can
    point ``raw_loader``/``base_loader`` at survey files laid out like the
    original and run ``load_table`` against the genuine 39-year metadata."""
    from hbsir_old_spark.plans.registry import TableRegistry

    if corpus is None:
        corpus = (
            _shared_default_corpus()
            if local_metadata_dir is None
            else load_corpus(local_dir=local_metadata_dir)
        )
    metadata = {
        "household": engine_household(corpus.household),
        "classifications": engine_classifications(corpus.commodities),
        "occupation_classifications": engine_classifications(corpus.occupations),
    }
    return TableRegistry(
        spark,
        schema=engine_schema(corpus.schema, corpus.tables),
        metadata=metadata,
        base_loader=base_loader,
        raw_loader=raw_loader,
        external_functions=reference_external_functions(),
        cache=cache,
        cleaning_metadata=engine_cleaning_metadata(corpus.tables),
        weight_year_threshold=weight_year_threshold,
    )
