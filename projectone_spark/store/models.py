"""Model persistence over the :class:`~projectone_spark.store.TableStore`
— a trained model is a SMALL versioned table plus manifest metadata.

Every train-capable operator in the engine produces bounded model state
(reference parity: the reference persists every derived artifact as a
table too — its store abstraction, ``core/storage/table_store.py``, is
the only durability primitive; there is no separate model format):

- BPE merge rules (``functions.text.bpe_train_merges`` — n_merges rows),
- fastText-style token weights (``functions.text.token_weight_table`` —
  vocabulary rows, the frame ``linear_token_classifier``'s docstring
  calls "the saved-model artifact a production scorer reuses"),
- a calibrated score cutoff (``functions.text.select_f1_cutoff`` — one
  row),
- SQ8 quantizer bounds (``functions.embeddings.sq8_bounds`` — one row),
- IVF coarse centroids (``functions.embeddings.ivf_train`` — k rows),
- unigram-LM piece scores (``functions.text.unigram_lm_train`` —
  bounded candidate-piece rows).

``save_model`` writes the frame as a normal store table (versioned,
transactional, time-travelable — model rollback is
``read_version``) and stamps ``manifest["model"] = {kind, params}``;
``load_model`` validates the kind before handing the frame back, so a
pipeline task that expects a tokenizer cannot silently score with a
classifier. Training happens ONCE, in the task that calls
``save_model``; apply-side tasks read a bounded parquet table — their
plans carry no training aggregates at all (pinned by
``tests/test_plans.py::test_f15_apply_plan_is_training_free``).

Scale note: a model table is kilobytes-to-megabytes (vocabulary-bounded
at worst), so apply-side joins against it broadcast; persisting through
the store costs one footer-read commit. Nothing here ever scans a
corpus — the TRAINERS own their corpus scans.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from projectone_spark.store import TableStore

#: kind -> columns every saved frame of that kind must carry. Extra
#: columns are allowed (pair_count on merges, f1_micro on cutoffs —
#: provenance travels with the model); missing ones fail the save.
MODEL_KINDS: dict[str, frozenset[str]] = {
    "bpe_merges": frozenset({"step", "left_sym", "right_sym", "merged"}),
    "token_weights": frozenset({"term", "weight_micro"}),
    "score_cutoff": frozenset({"cutoff_micro"}),
    "sq8_bounds": frozenset({"__mn", "__mx"}),
    "ivf_centroids": frozenset({"cell", "centroid"}),
    "pq_codebooks": frozenset({"subspace", "code", "centroid"}),
    "unigram_lm": frozenset({"piece", "score_micro"}),
}


def save_model(store: TableStore, spark: SparkSession, name: str, kind: str,
               df: DataFrame, params: dict | None = None) -> int:
    """Persist a trained-model frame as store table ``name`` and stamp
    the manifest with ``{"model": {"kind": ..., "params": ...}}``.
    Returns the committed version. Overwrite semantics: saving again
    replaces the model and bumps the version (old versions stay
    time-travelable via ``store.read_version``)."""
    required = MODEL_KINDS.get(kind)
    if required is None:
        raise ValueError(
            f"unknown model kind {kind!r}; known: {sorted(MODEL_KINDS)}")
    missing = required - set(df.columns)
    if missing:
        raise ValueError(
            f"model frame for kind {kind!r} is missing required columns "
            f"{sorted(missing)} (has {df.columns})")
    # ONE atomic commit: the model stamp rides the manifest publish
    # itself (an overwrite-then-amend pair would leave a window — and a
    # crash point — where the table exists but load_model rejects it)
    return store.overwrite(
        spark, df, name,
        manifest_extra={"model": {"kind": kind,
                                  "params": dict(params or {})}})


def load_model(store: TableStore, spark: SparkSession, name: str,
               kind: str | None = None,
               version: int | None = None) -> tuple[DataFrame, dict]:
    """Read a saved model back as ``(frame, metadata)`` where metadata
    is the manifest's ``{"kind": ..., "params": ...}`` stamp. Passing
    ``kind`` asserts the table holds THAT model family — a mismatched
    or model-less table fails loudly instead of feeding a downstream
    apply step garbage.

    ``version`` PINS the load to a historical save (model time travel):
    the stamp comes from THAT version's manifest and the frame from
    ``store.read_version`` — a scorer pinned to v1 keeps reading v1's
    weights and v1's params while retrains publish v2, v3, ... (the
    refresh contract: version-pinned reruns are deterministic, new runs
    pick up the latest — the reference's CDC state machine one level
    up). A pinned version whose commit was not a ``save_model`` (e.g.
    a junk overwrite between saves) fails the same no-model-metadata
    check the unpinned path applies."""
    m = store.snapshot(name, version)
    meta = m.get("model")
    if meta is None:
        raise ValueError(
            f"store table '{name}' carries no model metadata — it was "
            f"written by a plain writer, not save_model")
    if kind is not None and meta.get("kind") != kind:
        raise ValueError(
            f"model table '{name}' holds kind {meta.get('kind')!r}, "
            f"caller expected {kind!r}")
    # unpinned, the frame is read from the manifest the stamp came from,
    # so a save that lands in between cannot pair one with the other
    frame = (store.read(spark, name, snapshot=m) if version is None
             else store.read_version(spark, name, version))
    # belt and braces against stamp/content drift (a rewritten table
    # whose stamp somehow survived): the frame must still carry the
    # kind's required columns, same contract save_model enforced
    required = MODEL_KINDS.get(meta.get("kind"), frozenset())
    missing = required - set(frame.columns)
    if missing:
        raise ValueError(
            f"model table '{name}' (kind {meta.get('kind')!r}) no longer "
            f"carries required columns {sorted(missing)} — its contents "
            f"were replaced by a non-save_model writer")
    return frame, dict(meta)


# -- bounded frame <-> driver-value adapters -------------------------------
# (models whose APPLY step is a literal expression — BPE replace chains,
# centroid folds — cross the driver as bounded rows by design; these
# adapters keep the ordering/validation in ONE place)


def bpe_merges_from_model(df: DataFrame) -> list[tuple[str, str]]:
    """Rule list in training order for ``functions.text.bpe_encode`` /
    ``bpe_vocab_encode``. Bounded collect: n_merges rows (model state,
    the same driver-cost class as the trainer's own per-step argmax)."""
    rows = df.select("step", "left_sym", "right_sym").orderBy("step").collect()
    return [(r["left_sym"], r["right_sym"]) for r in rows]


def centroids_to_frame(spark: SparkSession,
                       centroids: Sequence[Sequence[float]]) -> DataFrame:
    """(cell, centroid) frame from ``ivf_train``'s driver-side list —
    cell ids are list positions, the ids ``assign_cell``/``ivf_probes``
    rank over. A VALUES LocalRelation (r12): the model-part save and
    every broadcast over it run zero Python-RDD tasks."""
    from projectone_spark.functions import values_frame

    return values_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>")


def centroids_from_model(df: DataFrame) -> list[list[float]]:
    """Cell-ordered centroid list for ``ivf_probes``/``assign_cell``.
    Bounded collect: k rows. Validates the cell ids are exactly
    0..k-1 — a gap would silently shift every assignment."""
    rows = df.select("cell", "centroid").orderBy("cell").collect()
    if not rows:
        # [] passes the 0..k-1 check vacuously, but an empty quantizer
        # makes every downstream search probe nothing and return zero
        # neighbors silently — fail here like assign_cell does
        raise ValueError("centroid model is empty (k=0) — a search "
                         "under it would return no results for any query")
    cells = [int(r["cell"]) for r in rows]
    if cells != list(range(len(rows))):
        raise ValueError(
            f"centroid model cells must be exactly 0..k-1, got {cells}")
    return [[float(x) for x in r["centroid"]] for r in rows]


def codebooks_to_frame(spark: SparkSession,
                       codebooks: Sequence[Sequence[Sequence[float]]],
                       ) -> DataFrame:
    """(subspace, code, centroid) frame from ``pq_train``'s driver-side
    nested list — ``codebooks[s][j]`` becomes the row (s, j, centroid),
    the layout ``codebooks_from_model`` inverts for ``pq_encode`` /
    ``pq_adc_tables``. Bounded: m × n_codes rows of sub-dim arrays.
    A VALUES LocalRelation (r12), like :func:`centroids_to_frame`."""
    from projectone_spark.functions import values_frame

    return values_frame(
        spark,
        [(s, j, [float(x) for x in c])
         for s, book in enumerate(codebooks) for j, c in enumerate(book)],
        "subspace int, code int, centroid array<double>")


def codebooks_from_model(df: DataFrame) -> list[list[list[float]]]:
    """Nested ``codebooks[s][j]`` list for the PQ encode/ADC builders.
    Bounded collect: m × n_codes rows. Validates both id spaces are
    dense 0..n-1 per level — a gap would silently shift every code."""
    rows = df.select("subspace", "code", "centroid") \
        .orderBy("subspace", "code").collect()
    if not rows:
        raise ValueError("PQ codebook model is empty — an encode under "
                         "it would be undefined for every vector")
    books: list[list[list[float]]] = []
    for r in rows:
        s, j = int(r["subspace"]), int(r["code"])
        if s == len(books):
            books.append([])
        if s != len(books) - 1 or j != len(books[s]):
            raise ValueError(
                f"PQ codebook ids must be dense (subspace 0..m-1, code "
                f"0..n_codes-1 within each); row ({s}, {j}) breaks the "
                f"expected order")
        books[s].append([float(x) for x in r["centroid"]])
    sizes = {len(b) for b in books}
    if len(sizes) != 1:
        raise ValueError(f"ragged PQ codebooks: per-subspace sizes {sizes}")
    return books


__all__ = [
    "MODEL_KINDS", "save_model", "load_model", "bpe_merges_from_model",
    "centroids_to_frame", "centroids_from_model",
    "codebooks_to_frame", "codebooks_from_model",
]
