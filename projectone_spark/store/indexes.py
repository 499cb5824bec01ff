"""Persisted ANN-index lifecycle over the :class:`TableStore` — the
level above :mod:`store.models`: an INDEX is a corpus-sized code table
plus the small models that interpret it, saved together under one name
and opened cold by a search task that never rebuilds anything.

The model lifecycle (f15/e18) persists the *quantizer* — the bounded
trained state — but a production ANN deployment persists the whole
*index*: at 100 TB the code table is the 4-16x-compressed artifact the
search actually scans, and rebuilding it per query (what e16/e18 do
in-query) would cost a full raw-corpus scan per search. ``save_index``
writes the parts; ``open_index`` validates and hands back everything a
search needs; appends to the code table keep the stamp (incremental
maintenance — the st15 streaming shape — is an append stream, exactly
like model-table appends).

Reference parity: the reference's store is its only durability
primitive (``core/storage/table_store.py``); derived artifacts larger
than driver memory are always tables. An index here is three tables —
``{name}`` (codes, corpus-sized), ``{name}__centroids`` and
``{name}__bounds`` (kind-stamped models, bounded) — bound together by
the code table's manifest ``index`` stamp, which names its parts so a
cold open cannot pair a code table with the wrong quantizer.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from projectone_spark.store import TableStore
from projectone_spark.store.models import load_model, save_model

#: index kind -> {part name -> model kind}. The code table's required
#: columns are checked structurally from params (dims -> packed words).
INDEX_KINDS: dict[str, dict[str, str]] = {
    # IVF routing over scalar-int8 codes: FAISS IndexIVFScalarQuantizer.
    # codes table: (vec_id, cell, w00..w{ceil(dims/4)-1:02d}) — cell from
    # the centroids part, packed words from sq8_pack_words under the
    # bounds part.
    "ivf_sq8": {"centroids": "ivf_centroids", "bounds": "sq8_bounds"},
    # IVF routing over product-quantization codes: FAISS IndexIVFPQ.
    # codes table: (vec_id, cell, w00..w{ceil(m/4)-1:02d}) — cell from
    # the centroids part, m byte codes (one per subspace, packed by the
    # same sq8_pack_words word discipline) from pq_encode under the
    # codebooks part. At 100 TB this is the 16-64x artifact (m bytes per
    # vector vs 4*dims raw), the economics rung below SQ8's 4x.
    "ivf_pq": {"centroids": "ivf_centroids", "codebooks": "pq_codebooks"},
}


def code_word_columns(kind: str, params: dict) -> list[str]:
    """Ordered packed-word column names (``w00..``) the code table of
    ``kind`` carries under ``params`` — the ONE owner of the
    dims/m -> ceil(n/4) derivation, shared by builders, searches, and
    equality proofs (st15/st17) so a dims change cannot silently desync
    anyone's column set."""
    if kind == "ivf_sq8":
        n = int(params["dims"])
    elif kind == "ivf_pq":
        n = int(params["m"])
    else:
        raise ValueError(f"unknown index kind {kind!r}; known: "
                         f"{sorted(INDEX_KINDS)}")
    return [f"w{j:02d}" for j in range((n + 3) // 4)]


def _code_columns(kind: str, params: dict) -> set[str]:
    """Columns the code table of ``kind`` must carry under ``params``."""
    return {"vec_id", "cell", *code_word_columns(kind, params)}


@dataclass(frozen=True)
class OpenedIndex:
    """Everything a cold search task needs: the corpus-sized code frame
    and the bounded, kind-validated model parts (already store-read —
    callers broadcast them; they are model state, never corpus-sized)."""
    codes: DataFrame
    parts: dict[str, DataFrame]
    kind: str
    params: dict
    version: int


def save_index(store: TableStore, spark: SparkSession, name: str,
               kind: str, codes: DataFrame, parts: dict[str, DataFrame],
               params: dict,
               partition_by: list[str] | None = None) -> int:
    """Persist a full index: each part through ``save_model`` (kind per
    ``INDEX_KINDS``) as ``{name}__{part}``, then the code table as
    ``{name}`` with the ``index`` manifest stamp naming its parts. The
    stamp rides the code table's atomic manifest publish (the save_model
    crash-window discipline), and carries across appends — incremental
    maintenance keeps a valid, openable index. Returns the code table's
    committed version.

    ``partition_by=["cell"]`` is the production layout for ``ivf_sq8``:
    the search's probed-cell set collapses to literal partition filters
    (``search_ivf_sq8_index(prune_cells=True)``), so a query reads
    ~nprobe/n_cells of the code table's FILES, not just its rows —
    at 100 TB the difference between scanning the whole 4x-compressed
    index and scanning two cells of it. Incremental appends inherit the
    table's partitioning (the store validates the match)."""
    part_kinds = INDEX_KINDS.get(kind)
    if part_kinds is None:
        raise ValueError(f"unknown index kind {kind!r}; known: "
                         f"{sorted(INDEX_KINDS)}")
    if "index" in params:
        # the 'index' params key is the name binding open_index's
        # part-pairing check rides on — a caller-supplied value would
        # silently shadow it and defeat the refusing-to-pair guard
        raise ValueError(
            "params key 'index' is reserved for the part-to-index name "
            "binding; rename the caller's key")
    missing_parts = set(part_kinds) - set(parts)
    if missing_parts:
        raise ValueError(f"index kind {kind!r} requires parts "
                         f"{sorted(part_kinds)}, missing "
                         f"{sorted(missing_parts)}")
    required = _code_columns(kind, params)
    missing = required - set(codes.columns)
    if missing:
        raise ValueError(
            f"code table for index kind {kind!r} is missing required "
            f"columns {sorted(missing)} (has {codes.columns})")
    part_tables = {}
    part_versions = {}
    for part, model_kind in part_kinds.items():
        part_tables[part] = f"{name}__{part}"
        part_versions[part] = save_model(
            store, spark, part_tables[part], model_kind, parts[part],
            params={"index": name, **params})
    # part_versions pin THIS save's part commits into the stamp, so a
    # version-pinned open (open_index(version=...)) can pair historical
    # codes with the exact part contents they were built under while a
    # concurrent rebuild publishes newer parts (f16's model pinning,
    # lifted to the whole artifact)
    # per-file vec_id min/max stats make the ids-shaped drop_from_index
    # prunable: the anti-join MERGE bounds its rewrite by the condemned
    # set's key range, and without recorded key stats every file is a
    # candidate (the r12 drop-at-scale probe's finding — a range-scoped
    # re-curation was rewriting the WHOLE index). Appends inherit the
    # stats columns, so incremental maintenance keeps the pruning.
    return store.overwrite(
        spark, codes, name, partition_by=partition_by,
        stats_columns=["vec_id"],
        manifest_extra={"index": {"kind": kind, "params": dict(params),
                                  "parts": part_tables,
                                  "part_versions": part_versions}})


def open_index(store: TableStore, spark: SparkSession, name: str,
               kind: str | None = None,
               version: int | None = None) -> OpenedIndex:
    """Open a persisted index cold: validate the ``index`` stamp (and
    ``kind`` if given), load every part through ``load_model`` (each
    part's model kind re-validated), and structurally re-check the code
    table's columns — a code table whose contents were replaced by a
    plain writer, or paired with a missing/mismatched part, fails loudly
    before a search can return silently-wrong neighbors.

    ``version`` PINS the open to an historical code-table commit (the
    ``load_model(version=...)`` contract lifted to the whole artifact):
    the stamp comes from THAT version's manifest, the codes from
    ``read_version``, and each part from the ``part_versions`` the stamp
    recorded at save time — so a search pinned to index v_N keeps
    reading v_N's codes AND the exact quantizer contents they were
    encoded under, bit-for-bit, while a concurrent rebuild publishes
    v_N+1 over both the code table and the part tables. A pinned commit
    that was not save_index-stamped (e.g. a junk overwrite between
    saves) fails the same no-index-metadata check as the unpinned path."""
    m = store.snapshot(name, version)
    meta = m.get("index")
    if meta is None:
        raise ValueError(
            f"store table '{name}' carries no index metadata — it was "
            f"written by a plain writer, not save_index"
            if version is None else
            f"version {version} of store table '{name}' carries no index "
            f"metadata — that commit was not produced by save_index or a "
            f"stamp-preserving maintenance op")
    if kind is not None and meta.get("kind") != kind:
        raise ValueError(f"index '{name}' holds kind {meta.get('kind')!r}, "
                         f"caller expected {kind!r}")
    ikind, params = meta["kind"], dict(meta.get("params") or {})
    # unpinned, the codes are read from the stamp's own manifest
    codes = (store.read(spark, name, snapshot=m) if version is None
             else store.read_version(spark, name, version))
    required = _code_columns(ikind, params)
    missing = required - set(codes.columns)
    if missing:
        raise ValueError(
            f"index '{name}' (kind {ikind!r}) code table no longer "
            f"carries required columns {sorted(missing)} — its contents "
            f"were replaced by a non-save_index writer")
    part_versions = meta.get("part_versions") or {}
    parts = {}
    for part, model_kind in INDEX_KINDS[ikind].items():
        table = (meta.get("parts") or {}).get(part, f"{name}__{part}")
        pin = part_versions.get(part) if version is not None else None
        if version is not None and pin is None:
            raise ValueError(
                f"index '{name}' version {version} predates part-version "
                f"pinning (no part_versions in its stamp) — a pinned open "
                f"cannot prove part '{part}' still holds that save's "
                f"contents; open unpinned or rebuild the index")
        frame, pmeta = load_model(store, spark, table, kind=model_kind,
                                  version=pin)
        if pmeta.get("params", {}).get("index") != name:
            raise ValueError(
                f"index part '{table}' (kind {model_kind!r}) was saved "
                f"for index {pmeta.get('params', {}).get('index')!r}, "
                f"not {name!r} — refusing to pair it")
        parts[part] = frame
    return OpenedIndex(codes=codes, parts=parts, kind=ikind, params=params,
                       version=int(m["version"]))


def drop_from_index(store: TableStore, spark: SparkSession, name: str,
                    predicates=None, *, ids: DataFrame | None = None,
                    key: str = "vec_id",
                    txn: tuple[str, int] | None = None) -> int | None:
    """Remove vectors from a persisted index WITHOUT a rebuild — the
    re-curation flow: a dedup/decontamination pass condemns vec_ids and
    the index sheds them in one validated, copy-on-write DELETE.

    Plain ``dml.delete_where`` on a code table drops the ``index`` stamp
    by design (a mutation the lifecycle didn't witness could have
    replaced the contents with garbage). This is the lifecycle-witnessed
    path: the index is first OPENED (stamp, kind, part pairing, and code
    columns all validated — the same checks a search runs), and the
    delete's predicates may only reference code-table columns, so the
    surviving rows are bit-for-bit rows save_index wrote; the stamp is
    therefore re-published THROUGH the delete's own atomic commit (never
    a second manifest write — no crash window where the table exists
    unstamped).

    Two condemned-set shapes (exactly one must be given):

    - ``predicates`` — conjunctive ``(col, op, literal)`` terms, the
      ``delete_where`` form. Right when the set is expressible as
      literals (a cell, an id range, a bounded IN-list).
    - ``ids`` — a DataFrame of condemned ``key`` values, the shape a
      dedup/decontamination pass actually EMITS at 100 TB (corpus-
      scaled, never collectible): runs as an anti-join MERGE
      (``when_matched_delete``), with the source's key-range bounds
      pruning untouched files exactly like Delta MERGE.

    Cost ∝ files touched, not index size: both shapes inherit dml's
    file-stat pruning; on the production cell-partitioned layout a
    ``("cell", ...)``-scoped predicate rewrites only the affected cells'
    files (the rest hard-link forward). Returns the new version, or None
    when file stats prove no row matches (stamp untouched).

    ``txn`` records a ``(app_id, version)`` watermark inside the drop's
    own commit (Delta's txnAppId/txnVersion), so a drop interleaved in
    an at-least-once pipeline (the st18 foreachBatch shape) can be
    replay-guarded exactly like an append."""
    from projectone_spark.store.dml import delete_where, merge_into

    if (predicates is None) == (ids is None):
        raise ValueError("drop_from_index takes exactly one of "
                         "predicates or ids")
    opened = open_index(store, spark, name)  # full lifecycle validation
    code_cols = set(opened.codes.columns)
    m = store.manifest(name)
    meta, meta_version = m["index"], int(m["version"])
    # the stamp re-published below was read from meta_version's
    # manifest; pinning the rewrite to that snapshot makes a rebuild
    # that lands in between a loud ConcurrentWriteError instead of the
    # old stamp silently pairing with the new contents
    if ids is not None:
        if key not in code_cols:
            raise ValueError(
                f"drop_from_index key {key!r} is not a code-table "
                f"column (has {sorted(code_cols)})")
        # set semantics: a dedup pass may emit the same condemned id
        # many times (once per duplicate pair); raw duplicates would
        # trip MERGE's duplicate-match guard, which protects UPDATES,
        # not deletes
        condemned = ids.select(key).distinct()
        return merge_into(store, spark, name, condemned, [key],
                          when_matched_delete=True,
                          when_not_matched_insert=False,
                          manifest_extra={"index": meta}, txn=txn,
                          expected_version=meta_version)
    bad = sorted({c for c, _, _ in predicates} - code_cols)
    if bad:
        raise ValueError(
            f"drop_from_index predicates may only reference code-table "
            f"columns {sorted(code_cols)}; got {bad}")
    return delete_where(store, spark, name, predicates,
                        manifest_extra={"index": meta}, txn=txn,
                        expected_version=meta_version)


def index_stats(store: TableStore, spark: SparkSession, name: str,
                version: int | None = None) -> DataFrame:
    """Per-cell occupancy observability for a persisted index, computed
    from the store's OWN manifest file stats — no data scan: on the
    production cell-partitioned layout every committed file's path
    carries its hive ``cell=N`` value and the manifest records its
    footer row count and byte size, so the whole profile folds
    driver-side over the bounded file list (files, not rows).

    This is the adjudicable INPUT to the retrain decision the r11 skew
    probe computed by hand: a cell whose ``occupancy_micro`` dwarfs
    1e6/n_cells is the structural-skew signal that says "retrain the
    coarse quantizer" (e23's flow) rather than paper over it with
    ``rebalance=`` at query time — and the same rows feed monitoring
    (files per cell growing past the compaction gate, byte share per
    cell for scan-cost forecasting).

    Occupancy is exact integer micro-units (``1e6 * cell_rows //
    total_rows``, the engine-wide cross-engine-exact discipline) with
    one closing divide to ``occupancy`` for human eyes. ``version``
    pins the profile to an historical commit (the ``open_index``
    contract — e.g. to compare occupancy across a retrain's v_N/v_N+1
    publishes). Returns a bounded DataFrame, one row per cell:
    ``(cell, n_files, n_rows, n_bytes, occupancy_micro, occupancy)``.

    Raises on a non-save_index table (no ``index`` stamp — same check
    as ``open_index``) and on a layout without per-file cell values (an
    unpartitioned code table's files span cells; the manifest cannot
    attribute rows without a scan, and guessing would be silently
    wrong)."""
    m = store.snapshot(name, version)
    if m.get("index") is None:
        raise ValueError(
            f"store table '{name}' carries no index metadata — it was "
            f"written by a plain writer, not save_index")
    from projectone_spark.store.skipping import partition_values

    files = m.get("files") or []
    per: dict[int, list[int]] = {}
    for f in files:
        pv = partition_values(f["path"])
        if "cell" not in pv:
            raise ValueError(
                f"index '{name}' is not cell-partitioned (file "
                f"{f['path']!r} carries no cell= partition value) — "
                f"per-cell stats need save_index(partition_by=['cell']), "
                f"the production layout")
        acc = per.setdefault(int(pv["cell"]), [0, 0, 0])
        acc[0] += 1
        acc[1] += int(f["rows"])
        acc[2] += int(f["bytes"])
    total = sum(v[1] for v in per.values())
    rows = [(cell, nf, nr, nb,
             (1_000_000 * nr) // total if total else 0)
            for cell, (nf, nr, nb) in sorted(per.items())]
    from projectone_spark.functions import values_frame

    df = values_frame(
        spark, rows,
        "cell int, n_files bigint, n_rows bigint, n_bytes bigint, "
        "occupancy_micro bigint")
    from pyspark.sql import functions as F

    return df.withColumn(
        "occupancy", (F.col("occupancy_micro") / 1_000_000.0))


__all__ = ["INDEX_KINDS", "OpenedIndex", "code_word_columns",
           "save_index", "open_index", "drop_from_index", "index_stats"]
