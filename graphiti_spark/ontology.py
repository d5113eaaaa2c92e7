"""User-extensible ontology configuration (the analogue of the
reference's dynamic `entity_types` / `edge_types` surface:
/root/reference/graphiti_core/graphiti.py:264 passes
`entity_types: dict[str, BaseModel]` into extraction, and
utils/maintenance/node_operations.py:339-355 classifies nodes against it).

The reference lets callers extend three judgment tables that its LLM
prompts otherwise improvise:

1. which entity label each predicate implies for its subject/object
   (node classification, X2),
2. which predicates are synonyms — paraphrases of the same relation —
   so duplicate facts collapse onto one edge (edge dedup judgment,
   edge_operations.py:151-192's LLM call),
3. which predicates contradict which (temporal invalidation, X10,
   temporal_operations.py:71-103),
plus derived typed attributes (F14; here: reduce rules over a node's
edges, operators/attributes.py).

`Ontology` is that configuration object, deterministic and data-free.
Every operator that consumed the hard-coded module tables now accepts an
`ontology=` parameter defaulting to `DEFAULT` — a custom ontology changes
labels, dedup classes, contradictions and attributes with no code edits
(pinned by tests/test_ontology.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .contradictions import CONTRA_CLASS

# predicate -> (subject label, object label)
DEFAULT_PRED_ROLES: dict[str, tuple[str, str]] = {
    "WORKS_AT": ("Person", "Organization"),
    "EMPLOYED_AT": ("Person", "Organization"),
    "NO_LONGER_WORKS_AT": ("Person", "Organization"),
    "LIKES": ("Person", "Person"),
    "DISLIKES": ("Person", "Person"),
    "BASED_IN": ("Organization", "Place"),
    "MOVED_TO": ("Person", "Place"),
    "LEADS": ("Person", "Organization"),
    "VISITED": ("Person", "Place"),
    "ADMIRES": ("Person", "Person"),
}

# predicate -> synonym-class key. Predicates in the same class are
# paraphrases: same-pair edges among them are duplicates of one fact
# (the deterministic stand-in for the reference's LLM duplicate-of
# judgment in dedupe_edges.py:33-74; candidate generation remains
# same-pair + fact-embedding similarity, operators/materialize.py).
# Identity is implicit — a predicate absent here is its own class.
DEFAULT_SYNONYMS: dict[str, str] = {
    "EMPLOYED_AT": "WORKS_AT",
}


@dataclass(frozen=True)
class Ontology:
    """Deterministic knowledge-model configuration. All maps are
    predicate-keyed; omitted predicates default to neutral behaviour
    (no label vote, own dedup class, never contradicts)."""

    pred_roles: dict[str, tuple[str, str]] = field(
        default_factory=lambda: dict(DEFAULT_PRED_ROLES)
    )
    synonyms: dict[str, str] = field(default_factory=lambda: dict(DEFAULT_SYNONYMS))
    contra: dict[str, tuple[str, int]] = field(
        default_factory=lambda: dict(CONTRA_CLASS)
    )
    # predicates declared single-valued per subject: concurrent multiple
    # objects are consistency violations (operators/maintenance.
    # functional_violations sweeps for them post-build)
    functional: tuple[str, ...] = ("WORKS_AT", "BASED_IN", "LEADS")

    def role_sql(self, side: int, col: str = "pred") -> str:
        """CASE expression mapping a predicate column to its REQUIRED
        endpoint label (side 0 = subject/domain, side 1 = object/range),
        NULL for unconstrained predicates — ANSI SQL shared verbatim by
        the Spark plan and the DuckDB oracle (SHACL-lite sh:class). An
        empty role table constrains nothing: a typed NULL (a CASE needs
        at least one WHEN)."""
        if not self.pred_roles:
            return "CAST(NULL AS STRING)"
        whens = " ".join(
            f"WHEN '{p}' THEN '{r[side]}'"
            for p, r in sorted(self.pred_roles.items())
        )
        return f"CASE {col} {whens} ELSE NULL END"

    def synonym_class_sql(self, col: str = "pred") -> str:
        """CASE expression mapping a predicate column to its dedup class
        (ANSI SQL — shared verbatim by the Spark plan and the DuckDB
        oracle builder)."""
        if not self.synonyms:
            return col
        whens = " ".join(
            f"WHEN '{p}' THEN '{c}'" for p, c in sorted(self.synonyms.items())
        )
        return f"CASE {col} {whens} ELSE {col} END"


DEFAULT = Ontology()
