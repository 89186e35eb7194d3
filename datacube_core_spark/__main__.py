"""spark-submit entry point.

Package and run:

    python scripts/make_package.py                       # builds dist/datacube_core_spark.zip
    spark-submit --py-files dist/datacube_core_spark.zip \
        --master local[32] \
        run_job.py --job headline --sf-dir /root/testdata/sf0.1

or directly as a module (driver-side):

    python -m datacube_core_spark --job headline --sf-dir /root/testdata/sf0.1

Jobs:
  headline      tile assignment + PIP join + per-(tile, region) counts
  checkpointed  the same pipeline per-cell with checkpoint/lineage/metrics
                tables (resume by re-running with the same --state-dir)
  knn           kNN over cell rings for sampled query points
  reproject     rasterize 4326 -> warp to Web Mercator -> point sample
  rollup        hierarchical quadtree rollup of page counts
  ingest-docs   `datacube dataset add` analog: resolve raw EO3 documents
                (yaml/json/jsonl under --docs) through the Doc2Dataset
                pipeline into the --store catalog, matching against the
                catalog's registered products (falls back to a built-in
                pages_eo3 rule when no products are registered)
  add-products  `datacube product add` analog: register product
                definition documents (yaml/json) in the --store catalog
  search        `datacube dataset search` analog: CLI expression grammar
                (--expr "lang = en time in [2024-01-01, 2024-06-30]")
                over the page index; prints matches as JSON lines
  dataset-archive / dataset-restore / dataset-purge
                `datacube dataset archive/restore/purge` analogs over the
                --store DatasetStore (--ids a,b,c; purge takes --force to
                purge non-archived rows)
  product-list  `datacube product list` analog: names + descriptions of
                the products registered in --store, as JSON lines
  product-show  `datacube product show` analog: full definition document
                of --product, pretty-printed
  update-docs   `datacube dataset update` analog: update EXISTING
                datasets from documents; unknown ids are errors
  dataset-info  `datacube dataset info` analog: current payload + full
                event history per --ids id
  system-check  `datacube system check` analog: store health — dataset/
                product/archived counts + orphan lineage edges
  metadata-add / metadata-list / metadata-show
                `datacube metadata add/list/show` analogs: register
                MetadataType documents (search_fields validated at add
                time) in the --store catalog
  search-docs   search a RAW-JSON document table (--docs parquet with a
                `doc` column) with a registered metadata type's search
                fields (--metadata-type) and the CLI expression grammar
                (--expr) — no re-ingest
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="datacube_core_spark")
    ap.add_argument(
        "--job",
        default="headline",
        choices=[
            "headline", "checkpointed", "knn", "reproject", "rollup",
            "ingest-docs", "add-products", "search",
            "dataset-archive", "dataset-restore", "dataset-purge",
            "product-list", "product-show",
            "update-docs", "dataset-info", "system-check",
            "metadata-add", "metadata-list", "metadata-show", "search-docs",
        ],
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--repl", type=int, default=100)
    ap.add_argument("--state-dir", default="/tmp/dcs_state")
    ap.add_argument("--master", default=None)
    ap.add_argument("--output", default=None, help="optional parquet output path")
    ap.add_argument("--docs", default=None, help="ingest-docs: dir/file of dataset documents")
    ap.add_argument("--format", default="auto", choices=["auto", "yaml", "json", "jsonl"],
                    help="ingest-docs: document format (auto = by extension)")
    ap.add_argument("--store", default="/tmp/dcs_catalog", help="ingest-docs: DatasetStore base path")
    ap.add_argument("--expr", default="", help="search: expression string (reference CLI grammar)")
    ap.add_argument("--limit", type=int, default=20, help="search: max rows printed")
    ap.add_argument("--ids", default="", help="dataset-archive/restore/purge: comma-separated dataset ids")
    ap.add_argument("--product", default=None, help="product-show: product name")
    ap.add_argument("--metadata-type", default=None, help="metadata-show/search-docs: type name")
    ap.add_argument("--force", action="store_true",
                    help="dataset-purge: also purge non-archived datasets (reference --force)")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from .frames import local_frame
    from .geom import GRID_PAGES
    from .operators.pip import PipIndex
    from .operators.tiling import with_tile
    from .session import get_spark
    from .sources.pages import pages
    from .sources.regions import regions

    from pyspark.sql import SparkSession

    # embedding-safe: only stop the session if this entry point created it
    # (tests/notebooks may call main() with a live shared session)
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=f"dcs-{args.job}", master=args.master)
    t0 = time.perf_counter()

    if args.job == "headline":
        p = pages(spark, args.sf_dir, repl=args.repl)
        index = PipIndex(spark, regions(spark), GRID_PAGES)
        joined = index.join(p, keep_cols=["doc_id"])
        out = with_tile(joined, GRID_PAGES).groupBy("tile_x", "tile_y", "region_id").agg(
            F.count("*").alias("n")
        )
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
        else:
            n = out.count()
    elif args.job == "checkpointed":
        from .operators.checkpoint import CheckpointedJob

        p = pages(spark, args.sf_dir, repl=args.repl)
        index = PipIndex(spark, regions(spark), GRID_PAGES)
        tiled = with_tile(p, GRID_PAGES)
        cells = tiled.select(
            F.col("tile_x").alias("cell_x"), F.col("tile_y").alias("cell_y")
        ).distinct()
        job = CheckpointedJob(spark, args.state_dir)

        def process(batch):
            batch_df = local_frame(spark, batch, "tile_x INT, tile_y INT")
            sub = tiled.join(F.broadcast(batch_df), on=["tile_x", "tile_y"], how="left_semi")
            out = index.join(sub, keep_cols=["doc_id", "tile_x", "tile_y"]).groupBy(
                F.col("tile_x").alias("cell_x"), F.col("tile_y").alias("cell_y"), "region_id"
            ).agg(F.count("*").alias("n"))
            return out, len(batch)

        ran = job.run(cells, process, batch_size=256)
        n = job.committed_output().count()
        print(json.dumps({"batches_run": ran, "state_dir": args.state_dir}))
    elif args.job == "reproject":
        # cross-CRS pipeline: rasterize 4326 -> warp to Web Mercator -> sample
        from .geom import GRID_MERC
        from .operators.raster import rasterize_rect_regions
        from .operators.warp import merc_region_tiles, sample_merc_rasters, warp_rasters_to_grid

        regs = regions(spark)
        src = rasterize_rect_regions(regs, GRID_PAGES, res=1.0)
        cand = merc_region_tiles(regs, GRID_MERC)
        warped = warp_rasters_to_grid(src, GRID_PAGES, 1.0, GRID_MERC, 256_000.0, cand, "nearest")
        p = (
            pages(spark, args.sf_dir, repl=args.repl)
            .where((F.col("lat") > -85.0) & (F.col("lat") < 85.0))
            .select("doc_id", "lon", "lat")
        )
        out = sample_merc_rasters(p, warped, GRID_MERC, 256_000.0)
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
        n = out.count()
    elif args.job == "rollup":
        from .operators.hier import rollup_counts

        p = pages(spark, args.sf_dir, repl=args.repl)
        out = rollup_counts(p, GRID_PAGES, max_res=3)
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
        n = out.count()
    elif args.job == "search":
        from .catalog import PageIndex
        from .plans.expression import parse_expressions

        query = parse_expressions(args.expr) if args.expr.strip() else {}
        idx = PageIndex(spark, args.sf_dir, repl=args.repl)
        rows = idx.search(limit=args.limit, **query).drop("html").collect()
        for r in rows:
            print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
        n = len(rows)
        print(json.dumps({"matched_shown": n, "expr": args.expr}))
    elif args.job == "add-products":
        import yaml as _yaml

        from .operators.doc2dataset import ProductCatalog

        if not args.docs:
            raise SystemExit("--docs is required for add-products")
        # product definitions are small driver-side files — no Spark read
        raw_txt = open(args.docs).read()
        if args.docs.endswith((".yaml", ".yml")):
            defs = [d for d in _yaml.safe_load_all(raw_txt) if d]
        elif args.docs.endswith(".jsonl"):
            defs = [json.loads(line) for line in raw_txt.splitlines() if line.strip()]
        else:
            parsed = json.loads(raw_txt)
            defs = parsed if isinstance(parsed, list) else [parsed]
        n = ProductCatalog(spark, args.store).add_documents(defs)
        print(json.dumps({"products_added": n, "store": args.store}))
    elif args.job == "ingest-docs":
        from .operators.doc2dataset import (
            Doc2Dataset,
            ProductCatalog,
            ProductRule,
            docs_from_files,
        )
        from .operators.store import DatasetStore

        if not args.docs:
            raise SystemExit("--docs is required for ingest-docs")
        fmt = args.format
        if fmt == "auto" and args.docs.endswith(".jsonl"):
            fmt = "jsonl"
        raw = docs_from_files(spark, args.docs, fmt=fmt)
        store = DatasetStore(spark, args.store, id_type="STRING")
        try:
            rules = ProductCatalog(spark, args.store).rules()
        except ValueError:
            rules = [ProductRule("pages_eo3", {"product": {"name": "pages_eo3"}})]
        resolver = Doc2Dataset(store, rules)
        n, errors = resolver.ingest(raw)
        n_err = errors.count()
        print(json.dumps({"added": n, "errors": n_err,
                          "products": [r.name for r in rules], "store": args.store}))
    elif args.job == "update-docs":
        # reference `datacube dataset update`: update EXISTING datasets
        # from documents; unknown ids become error rows, never inserts
        from .operators.doc2dataset import (
            Doc2Dataset,
            ProductCatalog,
            ProductRule,
            docs_from_files,
        )
        from .operators.store import DatasetStore

        if not args.docs:
            raise SystemExit("--docs is required for update-docs")
        fmt = args.format
        if fmt == "auto" and args.docs.endswith(".jsonl"):
            fmt = "jsonl"
        raw = docs_from_files(spark, args.docs, fmt=fmt)
        store = DatasetStore(spark, args.store, id_type="STRING")
        try:
            rules = ProductCatalog(spark, args.store).rules()
        except ValueError:
            rules = [ProductRule("pages_eo3", {"product": {"name": "pages_eo3"}})]
        resolver = Doc2Dataset(store, rules)
        n, errors = resolver.update(raw)
        print(json.dumps({"updated": n, "errors": errors.count(), "store": args.store}))
    elif args.job == "dataset-info":
        # reference `datacube dataset info`: current payload + audit trail
        from .operators.store import DatasetStore

        if not args.ids:
            raise SystemExit("--ids is required for dataset-info")
        store = DatasetStore(spark, args.store, id_type="STRING")
        n = 0
        for ds_id in [s for s in args.ids.split(",") if s]:
            try:
                hist = store.history(ds_id).collect()
            except ValueError:
                hist = []
            if not hist:
                print(json.dumps({"id": ds_id, "error": "not found"}))
                continue
            cur = hist[-1]
            if cur["_op"] == "purge":
                # the tombstone ends the chain: report purged, not a
                # live payload the store no longer serves
                print(json.dumps({
                    "id": ds_id, "error": "purged",
                    "events": [
                        {"seq": r["_seq"], "op": r["_op"],
                         "archived_ts": str(r["_archived"]) if r["_archived"] else None}
                        for r in hist
                    ],
                }))
                continue
            payload = {k: str(v) for k, v in cur.asDict().items() if not k.startswith("_")}
            print(json.dumps({
                "id": ds_id,
                "current": payload,
                "archived": cur["_archived"] is not None,
                "events": [
                    {"seq": r["_seq"], "op": r["_op"],
                     "archived_ts": str(r["_archived"]) if r["_archived"] else None}
                    for r in hist
                ],
            }))
            n += 1
    elif args.job == "system-check":
        # reference `datacube system check`: catalog health — store
        # reachability, product/dataset/archived counts, orphan lineage
        # edges (edges whose dataset id is no longer in the store)
        import os as _os

        from .operators.doc2dataset import ProductCatalog
        from .operators.store import DatasetStore

        report = {"store": args.store, "ok": True}
        store = DatasetStore(spark, args.store, id_type="STRING")
        try:
            # resolve the event log ONCE and reuse for every sub-check —
            # current() replays the whole last-writer-wins window each call
            cur = store.current(include_archived=True).localCheckpoint(eager=True)
            live = cur.where(F.col("_archived").isNull()).count()
            report["datasets"] = live
            report["archived"] = cur.count() - live
        except ValueError:
            cur = None
            report["datasets"] = report["archived"] = 0
        try:
            report["products"] = ProductCatalog(spark, args.store).store.current().count()
        except ValueError:
            report["products"] = 0
        edges_path = f"{args.store.rstrip('/')}/lineage_edges"
        if _os.path.isdir(edges_path):
            edges = spark.read.parquet(edges_path)
            if cur is not None:
                known = cur.select(F.col(store.id_col).cast("string").alias("dataset_id"))
                orphans = edges.join(known, on="dataset_id", how="left_anti").count()
            else:
                orphans = edges.count()
            report["lineage_edges"] = edges.count()
            report["orphan_edges"] = orphans
            if orphans:
                report["ok"] = False
        else:
            report["lineage_edges"] = report["orphan_edges"] = 0
        print(json.dumps(report))
        n = report["datasets"]
    elif args.job == "metadata-add":
        # reference datacube/scripts/metadata.py add
        import yaml as _yaml

        from .operators.metadata import MetadataTypeCatalog

        if not args.docs:
            raise SystemExit("--docs is required for metadata-add")
        raw_txt = open(args.docs).read()
        if args.docs.endswith((".yaml", ".yml")):
            defs = [d for d in _yaml.safe_load_all(raw_txt) if d]
        else:
            parsed = json.loads(raw_txt)
            defs = parsed if isinstance(parsed, list) else [parsed]
        n = MetadataTypeCatalog(spark, args.store).add_documents(defs)
        print(json.dumps({"metadata_types_added": n, "store": args.store}))
    elif args.job == "metadata-list":
        from .operators.metadata import MetadataTypeCatalog

        cat = MetadataTypeCatalog(spark, args.store)
        docs_by_name = cat.documents()  # ONE event-log resolve for the listing
        for nm in sorted(docs_by_name):
            d = docs_by_name[nm]
            print(json.dumps({
                "name": nm,
                "description": d.get("description"),
                "search_fields": sorted(((d.get("dataset") or {}).get("search_fields") or {})),
            }))
        n = len(docs_by_name)
    elif args.job == "metadata-show":
        from .operators.metadata import MetadataTypeCatalog

        if not args.metadata_type:
            raise SystemExit("--metadata-type is required for metadata-show")
        doc = MetadataTypeCatalog(spark, args.store).get(args.metadata_type)
        if doc is None:
            raise SystemExit(f'"{args.metadata_type}" is not a valid MetadataType name')
        print(json.dumps(doc, indent=2, sort_keys=True))
        n = 1
    elif args.job == "search-docs":
        # the no-reingest search loop: metadata type's search_fields +
        # CLI expression grammar over a raw-JSON document table
        from .operators.metadata import MetadataTypeCatalog
        from .plans.expression import parse_expressions
        from .plans.fields import search_raw_docs

        if not args.docs:
            raise SystemExit("--docs (raw-docs parquet with a `doc` column) is required")
        if not args.metadata_type:
            raise SystemExit("--metadata-type is required for search-docs")
        specs = MetadataTypeCatalog(spark, args.store).search_fields(args.metadata_type)
        query = parse_expressions(args.expr) if args.expr.strip() else {}
        docs_df = spark.read.parquet(args.docs)
        hits = search_raw_docs(docs_df, specs, **query)
        rows = hits.limit(args.limit).collect()
        for r in rows:
            print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
        n = len(rows)
        print(json.dumps({"matched_shown": n, "expr": args.expr,
                          "metadata_type": args.metadata_type}))
    elif args.job in ("dataset-archive", "dataset-restore", "dataset-purge"):
        # reference datacube/scripts/dataset.py archive/restore/purge
        from .operators.store import DatasetStore

        if not args.ids:
            raise SystemExit(f"--ids is required for {args.job}")
        ids = [s for s in args.ids.split(",") if s]
        store = DatasetStore(spark, args.store, id_type="STRING")
        if args.job == "dataset-archive":
            n = store.archive(ids)
        elif args.job == "dataset-restore":
            n = store.restore(ids)
        else:
            n = store.purge(ids, allow_non_archived=args.force)
        print(json.dumps({"job": args.job, "affected": n, "store": args.store}))
    elif args.job == "product-list":
        # reference datacube/scripts/product.py list_products
        from .operators.doc2dataset import ProductCatalog

        cat = ProductCatalog(spark, args.store)
        try:
            rows = cat.store.current().select("name", "definition").collect()
        except ValueError:
            rows = []
        for r in sorted(rows, key=lambda r: r["name"]):
            d = json.loads(r["definition"])
            print(json.dumps({
                "name": r["name"],
                "description": d.get("description"),
                "measurements": [m.get("name") for m in d.get("measurements", [])],
            }))
        n = len(rows)
    elif args.job == "product-show":
        # reference datacube/scripts/product.py show_product
        from .operators.doc2dataset import ProductCatalog

        if not args.product:
            raise SystemExit("--product is required for product-show")
        cat = ProductCatalog(spark, args.store)
        try:
            rows = cat.store.current().where(F.col("name") == args.product).collect()
        except ValueError:
            rows = []
        if not rows:
            raise SystemExit(f'"{args.product}" is not a valid Product name')
        print(json.dumps(json.loads(rows[0]["definition"]), indent=2, sort_keys=True))
        n = 1
    else:  # knn
        from .operators.knn import knn_join

        p = pages(spark, args.sf_dir, repl=args.repl)
        q = p.where(F.col("doc_id") % 1009 == 0).select(F.col("doc_id").alias("qid"), "lon", "lat")
        out = knn_join(p, q, GRID_PAGES, k=5)
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
        n = out.count()

    print(json.dumps({"job": args.job, "rows": n, "secs": round(time.perf_counter() - t0, 3)}))
    if not preexisting:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
