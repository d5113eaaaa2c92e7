"""The engine's deterministic contradiction ontology (X10): which
predicates can invalidate which.

This is ENGINE configuration — the batch stand-in for the reference's
invalidate_edges LLM judgment (/root/reference/graphiti_core/utils/
maintenance/temporal_operations.py:71-103; golden behaviour pinned by
tests/utils/maintenance/test_temporal_operations_int.py:97-331: "dislikes"
invalidates "likes", "no longer works at" invalidates "works at",
unrelated predicates never invalidate). The synthetic corpus module
imports this table to *render* contradicting sentence pairs; the engine
never imports generative corpus knowledge (the dependency points corpus ->
engine, not the reverse).

This table is the default `Ontology.contra` (ontology.py); callers change
it by passing a custom Ontology. Edges in the same class on the same
canonical (src, dst) pair with opposite polarity contradict each other;
the later-valid edge invalidates the earlier one.
"""

from __future__ import annotations

# predicate -> (contradiction class, polarity)
CONTRA_CLASS: dict[str, tuple[str, int]] = {
    "WORKS_AT": ("WORKS_AT", 1),
    "EMPLOYED_AT": ("WORKS_AT", 1),  # WORKS_AT paraphrase (ontology.py synonyms)
    "NO_LONGER_WORKS_AT": ("WORKS_AT", -1),
    "LIKES": ("LIKES", 1),
    "DISLIKES": ("LIKES", -1),
}
