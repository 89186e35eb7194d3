"""Doc2Dataset analog: raw metadata document → typed, searchable dataset row.

Reference surface:

* ``datacube/index/hl.py:246-331`` — ``Doc2Dataset`` (product matching,
  lineage handling, consistency check, eo3 auto-detection);
* ``datacube/index/hl.py:55-96`` — ``product_matcher`` (signature
  containment, exactly-one-match rule);
* ``datacube/index/eo3.py:28-170`` — ``EO3Grid`` / ``eo3_grid_spatial`` /
  ``prep_eo3`` (spatial normalization: grids→geo_ref_points, lon/lat
  extent, lineage shape);
* ``datacube/utils/changes.py:20-39`` — ``contains`` signature semantics.

Spark-first design: per-document normalization (eo3 spatial keys, product
match, lineage flattening) is a PURE function, so the batch path applies
it on executors via ``mapInPandas`` over a JSON column — no driver loop.
Lineage existence checks are a distributed anti-join of the flattened
source ids against the :class:`DatasetStore` state: ONE join covers the
whole batch where the reference does a ``bulk_get`` per document tree.
Only the single-doc convenience API (:class:`Doc2Dataset.__call__`,
reference parity) touches the driver.
"""

from __future__ import annotations

import json
from typing import Any, Dict, Iterator, List, Mapping, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..geom.affine import Affine
from ..geom.lonlat import lonlat_bounds
from ..geom.mercator import EPSG_4326, _norm_crs, get_transformer

EO3_SCHEMA = "https://schemas.opendatacube.org/dataset"


class BadMatch(ValueError):
    """Dataset does not match exactly one product signature."""


def contains(v1: Any, v2: Any, case_sensitive: bool = False) -> bool:
    """True if v1 is a superset of v2 (reference ``changes.contains``):
    dicts recurse per key, other values compare equal (case-insensitive
    for strings by default), ``v2 is None`` reads as ``{}``."""
    if not case_sensitive and isinstance(v1, str):
        return isinstance(v2, str) and v1.lower() == v2.lower()
    if isinstance(v1, dict):
        return v2 is None or (
            isinstance(v2, dict)
            and all(contains(v1.get(k, object()), v, case_sensitive) for k, v in v2.items())
        )
    return bool(v1 == v2)


# ---------------------------------------------------------------------------
# EO3 spatial normalization
# ---------------------------------------------------------------------------

class EO3Grid:
    """One named grid: shape [ny, nx] + row-major affine transform
    (reference ``eo3.py:28-58``; 6 or 9 elements, last row [0,0,1])."""

    def __init__(self, grid: Mapping[str, Any]):
        shape = grid.get("shape")
        if shape is None or len(shape) != 2:
            raise ValueError("Each grid must have a two-dimensional shape")
        self.shape: Tuple[int, int] = (int(shape[0]), int(shape[1]))
        xform = grid.get("transform")
        if xform is None or len(xform) not in (6, 9):
            raise ValueError("Grid transform must have 6 or 9 elements")
        if any(not isinstance(e, (int, float)) for e in xform):
            raise ValueError("All grid transform elements must be numbers")
        if len(xform) == 9 and list(xform[6:]) != [0, 0, 1]:
            raise ValueError("Grid transform must be a valid Affine matrix")
        self.transform = Affine(*[float(e) for e in xform[:6]])

    def points(self, ring: bool = False) -> List[Tuple[float, float]]:
        ny, nx = (float(d) for d in self.shape)
        pts = [(0.0, 0.0), (nx, 0.0), (nx, ny), (0.0, ny)]
        if ring:
            pts += pts[:1]
        t = self.transform
        return [(t.a * x + t.b * y + t.c, t.d * x + t.e * y + t.f) for x, y in pts]

    def ref_points(self) -> Dict[str, Dict[str, float]]:
        names = ["ul", "ur", "lr", "ll"]
        return {n: dict(x=x, y=y) for n, (x, y) in zip(names, self.points())}


def _segmentize(ring: np.ndarray, max_len: float) -> np.ndarray:
    """Insert vertices so no segment of the CLOSED ring exceeds
    ``max_len`` (reference ``Geometry.segmented``, used by
    ``lonlat_bounds(…, resolution=…)``): under a curved projection the
    true lon/lat extremum can sit mid-edge, so denser vertices tighten
    the projected bounds at the cost of more transform work."""
    pts = np.asarray(ring, dtype=np.float64)
    if len(pts) < 2 or not (max_len > 0) or not np.isfinite(max_len):
        return pts
    out = [pts[0]]
    for a, b in zip(pts[:-1], pts[1:]):
        seg = float(np.hypot(*(b - a)))
        n = max(1, int(np.ceil(seg / max_len)))
        for i in range(1, n + 1):
            out.append(a + (b - a) * (i / n))
    return np.asarray(out)


def eo3_lonlat_bbox(
    grids: Sequence[EO3Grid],
    crs: str,
    valid_data: Optional[Sequence] = None,
    resolution: Optional[float] = None,
) -> Tuple[float, float, float, float]:
    """Lon/lat bounding box (reference ``eo3.py:64-74``): over all grids'
    corner rings, or over the ``valid_data`` rings when a tighter footprint
    was declared via the doc's ``geometry`` key.  Rings are projected to
    EPSG:4326 through the transformer seam; ``resolution`` segmentizes
    projected rings first (reference ``lonlat_bounds`` resolution param).

    Mode choice: a grid is an AFFINE image of a rectangle, so a
    geographic-native grid is contiguous and can never wrap the dateline
    — ``quick`` bounds are exact and safe-mode's span-over-180 heuristic
    could only corrupt a legitimately wide footprint (a 190°-wide or
    global grid would be rewritten into a phantom dateline crossing).
    Projected grids go through the inverse transform, whose wrapped
    output CAN straddle ±180, so those keep the antimeridian-safe mode."""
    geographic = _norm_crs(crs) == EPSG_4326
    src_rings = (
        [np.asarray(r, dtype=np.float64) for r in valid_data]
        if valid_data is not None
        else [np.asarray(g.points(ring=True), dtype=np.float64) for g in grids]
    )
    rings = []
    for pts in src_rings:
        if not geographic:
            # reference only segmentizes on the projected path — the
            # geographic path returns the bbox directly (eo3 lonlat_bounds
            # short-circuits on geom.crs.geographic)
            if resolution is not None:
                pts = _segmentize(pts, float(resolution))
            inv = get_transformer(crs, EPSG_4326)
            lon, lat = inv(pts[:, 0], pts[:, 1])
            pts = np.stack([lon, lat], axis=1)
        rings.append(pts)
    bb = lonlat_bounds([[r] for r in rings], mode="quick" if geographic else "safe")
    return bb.left, bb.bottom, bb.right, bb.top


def eo3_grid_spatial(
    doc: Mapping[str, Any],
    resolution: Optional[float] = None,
    grid_name: str = "default",
) -> Dict[str, Any]:
    """grid_spatial + extent keys from doc[grids|crs|geometry] (reference
    ``eo3.py:77-157``): geo_ref_points from the DEFAULT grid's corners;
    lon/lat extent over ALL grids — unless the doc carries an optional
    ``geometry`` polygon (a tighter valid-data footprint), in which case
    the extent comes from THAT geometry instead (reference ``eo3.py:126-141``)
    and the geometry lands verbatim in ``projection.valid_data``.  Without
    a ``geometry`` key, valid_data is the default grid's corner polygon
    (reference ``grid.polygon().json``).  ``resolution`` is the bounds
    rounding/segmentation parameter (reference ``eo3.py:78``)."""
    gridspecs = doc.get("grids") or {}
    crs = doc.get("crs")
    if crs is None or not gridspecs:
        raise ValueError("Input must have crs and grids.")
    grids = {name: EO3Grid(spec) for name, spec in gridspecs.items()}
    grid = grids.get(grid_name)
    if grid is None:
        raise ValueError(f"Input must have grids.{grid_name}")

    geometry = doc.get("geometry")
    if geometry is not None:
        # reference accepts the GeoJSON exterior ring (eo3.py:133:
        # polygon(geometry["coordinates"][0], crs=crs)); raise on shapes
        # the reference would not handle rather than silently widening
        if not isinstance(geometry, Mapping) or geometry.get("type") != "Polygon":
            raise ValueError(f"geometry must be a GeoJSON Polygon, got {geometry!r:.80}")
        valid_data: Dict[str, Any] = dict(geometry)
        valid_rings: Optional[List] = [geometry["coordinates"][0]]
    else:
        valid_data = {
            "type": "Polygon",
            "coordinates": [[list(p) for p in grid.points(ring=True)]],
        }
        valid_rings = None

    x1, y1, x2, y2 = eo3_lonlat_bbox(
        list(grids.values()), crs, valid_data=valid_rings, resolution=resolution
    )
    return {
        "grid_spatial": {
            "projection": {
                "spatial_reference": crs,
                "geo_ref_points": grid.ref_points(),
                "valid_data": valid_data,
            }
        },
        "extent": {
            "lon": {"begin": x1, "end": x2},
            "lat": {"begin": y1, "end": y2},
        },
    }


def is_doc_eo3(doc: Mapping[str, Any]) -> bool:
    schema = doc.get("$schema")
    return schema is not None and str(schema).startswith(EO3_SCHEMA)


def prep_eo3(
    doc: Dict[str, Any], auto_skip: bool = True, resolution: Optional[float] = None
) -> Dict[str, Any]:
    """Add the spatial keys the index requires to an eo3 doc (reference
    ``prep_eo3``): non-eo3 docs pass through when ``auto_skip``; docs
    already carrying the normalized keys pass through unchanged
    (idempotent re-ingest instead of a duplicate-key TypeError)."""
    if not is_doc_eo3(doc):
        if auto_skip:
            return doc
        raise ValueError("Not an EO3 document (missing $schema)")
    if "extent" in doc and "grid_spatial" in doc:
        return doc
    out = dict(doc)
    out.update(eo3_grid_spatial(doc, resolution=resolution))
    return out


def flatten_eo3_lineage(doc: Mapping[str, Any]) -> List[str]:
    """Source dataset ids from the eo3 lineage block
    ``{classifier: [uuid, ...]}`` (reference eo3 lineage shape)."""
    lineage = doc.get("lineage") or {}
    out: List[str] = []
    for _classifier, ids in sorted(lineage.items()):
        out.extend(str(i) for i in ids)
    return out


# ---------------------------------------------------------------------------
# product matching
# ---------------------------------------------------------------------------

class ProductRule:
    def __init__(self, name: str, signature: Mapping[str, Any], measurements: Sequence[str] = ()):
        self.name = name
        self.signature = dict(signature)
        self.measurements = list(measurements)


def product_from_doc(doc: Mapping[str, Any]) -> ProductRule:
    """ProductRule from a product-definition document (reference product
    YAML shape: ``name``, ``metadata`` = the match signature,
    ``measurements`` = list of {name, dtype, nodata, units, aliases})."""
    name = doc.get("name")
    if not name:
        raise ValueError("product definition must have a name")
    measurements = [m["name"] for m in (doc.get("measurements") or []) if isinstance(m, Mapping) and m.get("name")]
    return ProductRule(str(name), doc.get("metadata") or {}, measurements)


class ProductCatalog:
    """Persistent product registry — the ``datacube product add`` side of
    the ingest loop (reference ``index.products`` + ``hl.py:31-53``
    ``load_rules_from_types``).  Backed by the same event-sourced
    :class:`DatasetStore` CRUD (add/update/archive/time-travel for free),
    keyed by product name; the definition rides as a JSON column."""

    def __init__(self, spark, base_path: str):
        from .store import DatasetStore

        self.spark = spark
        self.store = DatasetStore(spark, f"{base_path.rstrip('/')}/products", id_col="name", id_type="STRING")

    def add_documents(self, docs: Sequence[Mapping[str, Any]], update_existing: bool = False) -> int:
        # dedupe WITHIN the batch (last definition wins): duplicate names
        # in one append would share (_seq, _tie) and make last-writer-wins
        # resolution nondeterministic
        from .store import add_named_documents

        by_name: Dict[str, str] = {}
        for d in docs:
            rule = product_from_doc(d)  # validates
            by_name[rule.name] = json.dumps(dict(d), sort_keys=True)
        return add_named_documents(self.spark, self.store, by_name, update_existing)

    def rules(
        self,
        product_names: Optional[Sequence[str]] = None,
        excluding: Optional[Sequence[str]] = None,
    ) -> List[ProductRule]:
        """Reference ``load_rules_from_types`` semantics: unknown names
        and empty results raise with the reference's messages."""
        got = {
            r["name"]: product_from_doc(json.loads(r["definition"]))
            for r in self.store.current().collect()
        }
        if product_names:
            missing = [n for n in product_names if n not in got]
            if missing:
                raise ValueError(f'Supplied product name "{missing[0]}" not present in the database')
            picked = [got[n] for n in product_names]
        else:
            picked = [got[n] for n in sorted(got)]
        if excluding:
            ex = set(excluding)
            picked = [r for r in picked if r.name not in ex]
        if not picked:
            raise ValueError("Found no matching products in the database")
        return picked


def match_product(doc: Mapping[str, Any], rules: Sequence[ProductRule]) -> ProductRule:
    """Exactly-one-match rule (reference ``product_matcher``): zero or
    several signature matches raise :class:`BadMatch`."""
    matched = [r for r in rules if contains(doc, r.signature)]
    if len(matched) == 1:
        return matched[0]
    doc_id = doc.get("id", "<missing id>")
    if not matched:
        raise BadMatch(f"No matching Product found for dataset {doc_id}")
    raise BadMatch(
        f"Auto match failed, dataset {doc_id} matches several products: "
        + ",".join(r.name for r in matched)
    )


def check_dataset_consistent(doc: Mapping[str, Any], product: ProductRule) -> Optional[str]:
    """The product's expected measurements must all be present
    (reference ``check_dataset_consistent``); returns an error or None."""
    expected = set(product.measurements)
    if not expected:
        return None
    got = set((doc.get("measurements") or {}).keys())
    missing = expected - got
    if missing:
        return f"The dataset is not specifying all of the measurements in this product: {sorted(missing)}"
    return None


# ---------------------------------------------------------------------------
# per-doc resolution (pure — runs identically on driver or executors)
# ---------------------------------------------------------------------------

RESOLVED_SCHEMA = (
    "id STRING, product STRING, ts TIMESTAMP, crs STRING, "
    "lon_min DOUBLE, lat_min DOUBLE, lon_max DOUBLE, lat_max DOUBLE, "
    "geo_ref_points STRING, uri STRING, source_ids ARRAY<STRING>, error STRING"
)

_EMPTY = dict(
    id=None, product=None, ts=None, crs=None, lon_min=None, lat_min=None,
    lon_max=None, lat_max=None, geo_ref_points=None, uri=None, source_ids=None,
)


def resolve_doc(
    doc: Mapping[str, Any],
    uri: str,
    rules: Sequence[ProductRule],
    skip_lineage: bool = False,
    eo3: Any = "auto",
) -> Dict[str, Any]:
    """One raw document → one flat typed row (or error row).  Mirrors the
    reference resolver minus index lookups: lineage EXISTENCE is checked
    by the caller (store semi-join / bulk_has) — the eo3 lineage block
    carries ids only, so there are no embedded docs to verify."""
    try:
        doc = dict(doc)
        if eo3 == "auto" or eo3 is True:
            doc = prep_eo3(doc, auto_skip=(eo3 == "auto"))
        ds_id = doc.get("id")
        if not ds_id:
            return {**_EMPTY, "uri": uri, "error": "No id defined in dataset doc"}
        product = match_product(doc, rules)
        err = check_dataset_consistent(doc, product)
        if err:
            return {**_EMPTY, "id": str(ds_id), "uri": uri, "error": err}
        ext = doc.get("extent") or {}
        lon, lat = ext.get("lon") or {}, ext.get("lat") or {}
        grid_spatial = doc.get("grid_spatial") or {}
        proj = grid_spatial.get("projection") or {}
        ts = (doc.get("properties") or {}).get("datetime")
        sources = [] if skip_lineage else flatten_eo3_lineage(doc)
        return {
            "id": str(ds_id),
            "product": product.name,
            "ts": pd.Timestamp(ts) if ts else None,
            "crs": doc.get("crs"),
            "lon_min": lon.get("begin"), "lat_min": lat.get("begin"),
            "lon_max": lon.get("end"), "lat_max": lat.get("end"),
            "geo_ref_points": json.dumps(proj.get("geo_ref_points"), sort_keys=True)
            if proj.get("geo_ref_points") else None,
            "uri": uri,
            "source_ids": sources,
            "error": None,
        }
    except Exception as e:  # noqa: BLE001 — ingest contract: EVERY bad doc
        # becomes an error row; a malformed document (wrong-typed shape,
        # lineage=None, …) raising TypeError must not kill the whole
        # distributed resolve job
        try:
            ds_id = doc.get("id")
        except Exception:
            ds_id = None
        return {**_EMPTY, "id": str(ds_id) if ds_id else None,
                "uri": uri, "error": f"{type(e).__name__}: {e}"}


def resolve_docs_df(docs_df: DataFrame, rules: Sequence[ProductRule], skip_lineage: bool = False) -> DataFrame:
    """Distributed resolution: ``docs_df`` is (doc STRING json, uri
    STRING); returns RESOLVED_SCHEMA rows (error column null on success).
    The rules list is tiny and ships in the task closure."""
    rules = list(rules)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.split()[0] for f in RESOLVED_SCHEMA.split(", ")]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                try:
                    d = json.loads(r.doc)
                except (TypeError, json.JSONDecodeError) as e:
                    rows.append({**_EMPTY, "uri": r.uri, "error": f"invalid JSON: {e}"})
                    continue
                rows.append(resolve_doc(d, r.uri, rules, skip_lineage=skip_lineage))
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return docs_df.select("doc", "uri").mapInPandas(kernel, schema=RESOLVED_SCHEMA)


def docs_from_files(spark, path: str, fmt: str = "auto") -> DataFrame:
    """(doc JSON-string, uri) rows from dataset-document FILES — the
    distributed analog of reference ``datacube/utils/documents.py``
    ``read_documents`` (.yaml/.yml incl. multi-doc ``---`` streams,
    .json, .jsonl).  YAML is parsed executor-side and re-serialized as
    JSON so the downstream resolver stays format-agnostic; an unparseable
    file yields one invalid-JSON row per file, which
    :func:`resolve_docs_df` turns into an error row instead of failing
    the job.

    ``fmt``: ``auto`` (by file extension), ``yaml``, ``json``, or
    ``jsonl`` (line-delimited, read in line mode — the only format that
    does not need whole-file reads)."""
    if fmt == "jsonl":
        # line mode scales to one huge file (splittable); the uri suffix is
        # the line's content hash — stable across re-evaluations (a
        # monotonically_increasing_id would be partition-encoded and could
        # relabel the same line between actions).  DOCUMENTED COLLAPSE:
        # byte-identical lines within one file share a uri (and thus one
        # provenance/error row) — they carry identical content, resolve to
        # the same dataset id, and the store add is id-idempotent, so the
        # ingest RESULT is unchanged; only per-line provenance granularity
        # is lost.  A positional suffix would need either a full shuffle
        # (window per file) or an unstable partition-encoded id — the
        # wrong trade for the splittable one-huge-file path.  The
        # whole-file jsonl path (a .jsonl inside a docs directory) keeps
        # per-index suffixes.
        return spark.read.text(path).select(
            F.col("value").alias("doc"),
            F.concat(F.input_file_name(), F.lit("#"), F.md5("value")).alias("uri"),
        )

    files = spark.read.text(path, wholetext=True).select(
        F.col("value").alias("raw"), F.input_file_name().alias("uri")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import yaml

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                eff = fmt
                if eff == "auto":
                    if r.uri.endswith((".yaml", ".yml")):
                        eff = "yaml"
                    elif r.uri.endswith(".jsonl"):
                        eff = "jsonl_whole"  # .jsonl inside a docs DIRECTORY
                    else:
                        eff = "json"
                if eff == "jsonl_whole":
                    # per-line parse with per-line error rows — a whole-file
                    # json.loads would collapse every document in the file
                    # into one error row
                    for i, line in enumerate(r.raw.splitlines()):
                        if line.strip():
                            rows.append((line, f"{r.uri}#{i}"))
                    continue
                try:
                    if eff == "yaml":
                        docs = [d for d in yaml.safe_load_all(r.raw) if d is not None]
                    else:
                        parsed = json.loads(r.raw)
                        docs = parsed if isinstance(parsed, list) else [parsed]
                except Exception as e:
                    # sentinel non-JSON payload -> error row downstream
                    rows.append((f"<unparseable {eff}: {e}", r.uri))
                    continue
                if len(docs) == 1:
                    rows.append((json.dumps(docs[0]), r.uri))
                else:
                    rows.extend((json.dumps(d), f"{r.uri}#{i}") for i, d in enumerate(docs))
            if rows:
                yield pd.DataFrame(rows, columns=["doc", "uri"])

    return files.mapInPandas(kernel, schema="doc STRING, uri STRING")


# ---------------------------------------------------------------------------
# high-level API
# ---------------------------------------------------------------------------

class Doc2Dataset:
    """Reference-parity resolver bound to a :class:`DatasetStore`.

    Single-doc call (reference ``Doc2Dataset.__call__``)::

        resolver = Doc2Dataset(store, products=[ProductRule(...)])
        row, err = resolver(doc_dict, "file:///tmp/ds.json")

    Batch path (the 100-TB shape): :meth:`ingest` resolves a whole
    DataFrame of raw documents on executors, checks lineage existence
    with ONE distributed anti-join, appends good rows to the store and
    their source edges to ``<store.base>/lineage_edges`` (readable by
    ``operators.lineage.lineage_closure``).
    """

    def __init__(
        self,
        store,
        products: Sequence[ProductRule],
        fail_on_missing_lineage: bool = False,
        skip_lineage: bool = False,
        eo3: Any = "auto",
    ):
        if not products:
            raise ValueError("Found no matching products in the database")
        self.store = store
        self.rules = list(products)
        self.fail_on_missing_lineage = fail_on_missing_lineage
        self.skip_lineage = skip_lineage
        self.eo3 = eo3

    # -- single doc (reference parity) --------------------------------------

    def __call__(self, doc: Mapping[str, Any], uri: str) -> Tuple[Optional[Dict[str, Any]], Optional[str]]:
        row = resolve_doc(doc, uri, self.rules, skip_lineage=self.skip_lineage, eo3=self.eo3)
        if row["error"]:
            return None, row["error"]
        if row["source_ids"] and self.fail_on_missing_lineage:
            have = self.store.bulk_has(row["source_ids"])
            missing = [s for s, h in zip(row["source_ids"], have) if not h]
            if missing:
                return None, "Following lineage datasets are missing from DB: " + ",".join(missing)
        return row, None

    # -- batch (Spark-first) -------------------------------------------------

    def resolve(self, docs_df: DataFrame) -> DataFrame:
        """Distributed resolve; missing-lineage errors are attached via an
        anti-join of exploded source ids against the store state."""
        resolved = resolve_docs_df(docs_df, self.rules, skip_lineage=self.skip_lineage)
        if not self.fail_on_missing_lineage:
            return resolved
        try:
            known = self.store.current(include_archived=True).select(
                F.col(self.store.id_col).cast("string").alias("source_id")
            )
        except ValueError:  # empty store
            known = local_frame(resolved.sparkSession, [], "source_id STRING")
        missing = (
            resolved.where(F.col("error").isNull())
            .select("id", F.explode("source_ids").alias("source_id"))
            .join(known, on="source_id", how="left_anti")
            .groupBy("id")
            .agg(F.sort_array(F.collect_list("source_id")).alias("_missing"))
        )
        return (
            resolved.join(missing, on="id", how="left")
            .withColumn(
                "error",
                F.when(
                    F.col("error").isNull() & F.col("_missing").isNotNull(),
                    F.concat(
                        F.lit("Following lineage datasets are missing from DB: "),
                        F.array_join(F.col("_missing"), ","),
                    ),
                ).otherwise(F.col("error")),
            )
            .drop("_missing")
        )

    def ingest(self, docs_df: DataFrame) -> Tuple[int, DataFrame]:
        """Resolve + add good rows to the store + append lineage edges.
        Returns (rows added, error rows DataFrame).

        Idempotent end to end: rows whose id the store already holds are
        skipped AND their edges are not re-appended — a retried batch
        adds 0 rows and 0 edges instead of duplicating every edge in
        ``lineage_edges`` (edges are derived from the same NEW-rows set
        the store add uses)."""
        resolved = self.resolve(docs_df).localCheckpoint(eager=True)
        good = resolved.where(F.col("error").isNull())
        try:
            known = self.store.current(include_archived=True).select(
                F.col(self.store.id_col).cast("string").alias("id")
            )
            fresh = good.join(known, on="id", how="left_anti").localCheckpoint(eager=True)
        except ValueError:  # empty store
            fresh = good
        n = self.store.add(fresh.drop("error", "source_ids"), skip_existing=True)
        edges = fresh.select(
            F.col("id").alias("dataset_id"), F.explode("source_ids").alias("source_id")
        )
        edges_path = f"{self.store.base}/lineage_edges"
        edges.write.mode("append").parquet(edges_path)
        return n, resolved.where(F.col("error").isNotNull())

    def update(self, docs_df: DataFrame) -> Tuple[int, DataFrame]:
        """Resolve + UPDATE existing rows (reference ``datacube dataset
        update``, ``scripts/dataset.py``): a resolved doc whose id is NOT
        in the store becomes an error row ("No such dataset in the
        database") instead of an insert — update never creates.  Returns
        (rows updated, error rows DataFrame)."""
        resolved = self.resolve(docs_df).localCheckpoint(eager=True)
        good = resolved.where(F.col("error").isNull())
        try:
            known = self.store.current(include_archived=True).select(
                F.col(self.store.id_col).cast("string").alias("id")
            )
        except ValueError:  # empty store: nothing can be updated
            known = None
        if known is None:
            missing = good
            present = good.limit(0)
        else:
            present = good.join(known, on="id", how="left_semi").localCheckpoint(eager=True)
            missing = good.join(known, on="id", how="left_anti")
        # one payload per id per batch (store.update rejects intra-batch
        # duplicates — equal (_seq, _tie) rows read back nondeterministic):
        # keep the first by uri, surface the rest as error rows
        from pyspark.sql import Window as _W

        w = _W.partitionBy("id").orderBy(F.col("uri").asc_nulls_last())
        ranked = present.withColumn("_rn", F.row_number().over(w))
        present = ranked.where(F.col("_rn") == 1).drop("_rn")
        dup_err = ranked.where(F.col("_rn") > 1).drop("_rn").withColumn(
            "error", F.lit("duplicate document for id in one update batch")
        )
        n = self.store.update(present.drop("error", "source_ids")) if present.take(1) else 0
        errors = resolved.where(F.col("error").isNotNull()).unionByName(
            missing.withColumn("error", F.lit("No such dataset in the database"))
        ).unionByName(dup_err)
        return n, errors
