"""Declarative per-table transform configs.

Python mirror of the reference's config trait
(``V2FConstants.scala:6-69``): a table's cleanup is fully described by a
set of renames, removals, and typed-parse column groups. The pipeline
assembler (``monster_etl_spark.plans.v2f.transform_table``) applies these in
the reference's observable order (remove *before* parse —
``V2FExtractionsAndTransforms.scala:80-121``; SURVEY.md §7.3.4).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class TableConfig:
    """Knobs for one table, mirroring ``V2FConstants.scala:6-69``.

    All column names here are *post-snake-case* names. ``nan_values`` are
    raw strings that designated numeric columns/array elements treat as
    missing (the reference rewrites them to the literal string ``"nan"``;
    we represent them as SQL NULL — SURVEY.md §7.3.1).
    """

    table_name: str
    # rename old -> new (applied after snake-casing).
    fields_to_rename: dict[str, str] = field(default_factory=dict)
    fields_to_remove: frozenset[str] = frozenset()
    fields_to_double: frozenset[str] = frozenset()
    fields_to_long: frozenset[str] = frozenset()
    fields_to_boolean: frozenset[str] = frozenset()
    # true-set for boolean-by-membership (reference default {"true"}).
    boolean_true_values: frozenset[str] = frozenset({"true"})
    # delimiter -> columns to split into array<string>.
    string_array_fields: dict[str, frozenset[str]] = field(default_factory=dict)
    # delimiter -> columns to split into array<double>.
    double_array_fields: dict[str, frozenset[str]] = field(default_factory=dict)
    # raw strings treated as missing in numeric parses (ref hardcodes {"."}
    # for v2f double arrays, V2FExtractionsAndTransforms.scala:113-117).
    nan_values: frozenset[str] = frozenset()

    def __post_init__(self) -> None:
        # A column takes at most one typed parse (double + long is one
        # numeric parse): chained differently typed parses, e.g. a long
        # then a membership test against 'R', fail in the stage chain with
        # an ANSI cast error whose timing depends on the plan shape.
        typed = [
            {*self.fields_to_double, *self.fields_to_long},
            set(self.fields_to_boolean),
            *map(set, self.string_array_fields.values()),
            *map(set, self.double_array_fields.values()),
        ]
        seen: set[str] = set()
        for fields in typed:
            clash = seen & fields
            if clash:
                raise ValueError(
                    f"{self.table_name}: column '{min(clash)}' is in more than one typed parse"
                )
            seen |= fields
