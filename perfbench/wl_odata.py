"""``odata_ingest``: ``spark.read.format("odata")`` against the loopback
service, four ops per pass (full v4 scan split into $skip partitions,
pushed filter + select, ``top``, full v2 scan)."""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys
import time
import urllib.request

from perfbench import harness
from perfbench.harness import CACHE, NPROC, WrongOutput
from perfbench import odata_fixture as fx

V4_ROWS = 60_000
V2_ROWS = 15_000
PARTITIONS = 4
TOP = 5000
FILTER_SELECT = ["ItemID", "Name", "Price", "Country"]


def _expected_tables(data: dict, out_dir: str) -> None:
    """The generator's rows as parquet, typed the way the connector
    decodes them: the reference the op outputs are hashed against."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def table(rows, cols):
        arrays = []
        for i, (_, edm, _) in enumerate(cols):
            vals = [r[i] for r in rows]
            typ = {
                "Edm.Int64": pa.int64(), "Edm.Int32": pa.int32(), "Edm.String": pa.string(),
                "Edm.Decimal": pa.decimal128(19, 4), "Edm.Double": pa.float64(),
                "Edm.Boolean": pa.bool_(), "Edm.DateTimeOffset": pa.timestamp("us", tz="UTC"),
                "Edm.DateTime": pa.timestamp("us", tz="UTC"),
            }[edm]
            arrays.append(pa.array(vals, type=typ))
        return pa.Table.from_arrays(arrays, names=[c[0] for c in cols])

    pq.write_table(table(data["v4"], fx.V4_COLUMNS), os.path.join(out_dir, "v4.parquet"))
    pq.write_table(table(data["v2"], fx.V2_COLUMNS), os.path.join(out_dir, "v2.parquet"))


class ODataIngest(harness.Workload):
    name = "odata_ingest"
    # Op times still fall for a few passes after the first (JIT). On a
    # 4-core host a pass took 4.0-4.8 s in passes 1-2 and 3.3-3.9 s from
    # pass 3 on.
    warmup_passes = 3

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.dir = os.path.join(CACHE, "inputs", f"odata_ingest-s{seed}-{V4_ROWS}x{V2_ROWS}")
        self.proc = None
        self.expected: dict[str, tuple[int, int]] = {}
        self.warm_seen: dict[str, tuple[int, int]] = {}
        self.op_wire: dict[str, dict] = {}
        self._before: dict | None = None

    # -- inputs / fixture ----------------------------------------------------

    def build(self) -> None:
        """Generate the seed's rows (the fixture serves them from the
        pickle) and the reference parquet. The filter literal goes to a
        small sidecar, so reading it loads none of the rows."""
        self.data_path = os.path.join(self.dir, "rows.pkl")
        meta_path = os.path.join(self.dir, "meta.json")
        if not os.path.exists(meta_path):
            os.makedirs(self.dir, exist_ok=True)
            data = fx.generate(self.seed, V4_ROWS, V2_ROWS)
            _expected_tables(data, self.dir)
            with open(self.data_path, "wb") as fh:
                pickle.dump(data, fh, protocol=pickle.HIGHEST_PROTOCOL)
            with open(meta_path + ".tmp", "w") as fh:
                json.dump({"filter_country": data["filter_country"]}, fh)
            os.replace(meta_path + ".tmp", meta_path)  # written last: marks the inputs complete
        with open(meta_path) as fh:
            self.filter_country = json.load(fh)["filter_country"]

    def setup(self, spark) -> None:
        from erpl_web_spark.odata.datasource import ensure_registered

        script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "odata_fixture.py")
        self.proc = subprocess.Popen(
            [sys.executable, script, "--data", self.data_path, "--threads", str(NPROC)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            raise RuntimeError(f"fixture did not start: {line}")
        self.base = f"http://127.0.0.1:{line[1]}"
        ensure_registered(spark)
        self.spark = spark

    def fixture_pids(self) -> set[int]:
        return {self.proc.pid} if self.proc else set()

    def unsetup(self) -> None:
        self.close()

    def close(self) -> None:
        if self.proc is not None:
            try:
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
            self.proc = None

    def stats(self) -> dict:
        with urllib.request.urlopen(f"{self.base}/_stats", timeout=10) as resp:
            return json.load(resp)

    # -- ops ---------------------------------------------------------------------

    def _reader(self, version: int):
        url = f"{self.base}/v4/Items" if version == 4 else f"{self.base}/v2/Orders"
        return self.spark.read.format("odata").option("url", url)

    def _frames(self):
        from pyspark.sql import functions as F

        return {
            # parallelism=auto splits the scan into PARTITIONS $skip windows
            "full_v4": lambda: self._reader(4).option("auto_partition_rows", str(V4_ROWS // PARTITIONS)).load(),
            "filter_v4": lambda: self._reader(4).option("select", ",".join(FILTER_SELECT)).load()
            .filter(F.col("Country") == self.filter_country),
            "top_v4": lambda: self._reader(4).option("top", str(TOP)).load(),
            "full_v2": lambda: self._reader(2).load(),
        }

    def ops(self, pass_no: int):
        frames = self._frames()

        def op(name):
            def run(ctx):
                with ctx.tracer.span("construct", "spark"):
                    df = frames[name]()
                rows, h = ctx.force(df)
                if pass_no == 0:
                    self.warm_seen[name] = (rows, h)  # checked by warmup_check
                elif (rows, h) != self.expected[name]:
                    raise WrongOutput(f"{name}: got {(rows, h)}, expected {self.expected[name]}")
                return rows
            return run

        return [(n, op(n)) for n in frames]

    def before_op(self, op_id: str) -> None:
        self._before = self.stats()

    def after_op(self, op_id: str) -> None:
        after = self.stats()
        self.op_wire[op_id] = {k: after[k] - self._before[k] for k in after}

    def warmup_check(self, spark) -> list[str]:
        """Expected (rows, hash) per op from the generator's rows, read
        as parquet and cast to the connector's schema, one job per entity
        set; the first warm-up pass's outputs are checked against them."""
        from pyspark.sql import functions as F

        frames = self._frames()
        v4 = spark.read.parquet(os.path.join(self.dir, "v4.parquet"))
        v2 = spark.read.parquet(os.path.join(self.dir, "v2.parquet"))

        def h(name):  # the op's columns, typed as the connector types them
            return harness.row_hash([F.col(f.name).cast(f.dataType) for f in frames[name]().schema.fields])

        def if_(cond, value):
            return F.when(cond, value).otherwise(F.lit(0))

        is_filtered = F.col("Country") == self.filter_country
        is_top = F.col("ItemID") <= TOP  # keys run 1..V4_ROWS: the first TOP in key order
        got = harness.observe(v4, {
            "full_v4": F.count(F.lit(1)), "full_v4_h": F.sum(h("full_v4")),
            "filter_v4": F.sum(if_(is_filtered, 1)), "filter_v4_h": F.sum(if_(is_filtered, h("filter_v4"))),
            "top_v4": F.sum(if_(is_top, 1)), "top_v4_h": F.sum(if_(is_top, h("top_v4"))),
        })
        got.update(harness.observe(v2, {"full_v2": F.count(F.lit(1)), "full_v2_h": F.sum(h("full_v2"))}))
        problems = []
        for name in frames:
            self.expected[name] = (int(got[name]), int(got[f"{name}_h"]))
            if self.warm_seen.get(name) != self.expected[name]:
                problems.append(f"warm-up {name}: got {self.warm_seen.get(name)}, expected {self.expected[name]}")
        return problems

    # -- per-layer -------------------------------------------------------------

    def layer_metrics(self, spark, results, traced_ops, untraced_ops, group_metrics) -> dict[str, float]:
        """Wire counts from the untraced half (planning in the traced half
        sends extra probes); in-process connector timings with no Spark."""
        from pyspark.sql.datasource import EqualTo

        from erpl_web_spark.core.http import HttpClient
        from erpl_web_spark.odata.client import clear_edm_cache
        from erpl_web_spark.odata.datasource import ODataDataSource
        from erpl_web_spark.odata.filters import translate_filters
        from erpl_web_spark.odata.json_decode import decode_rows, next_link
        from erpl_web_spark.odata.query_builder import ODataQueryBuilder

        tr = self.tracer
        wire: dict[str, int] = {}
        for op_id in untraced_ops:
            for k, v in self.op_wire[op_id].items():
                wire[k] = wire.get(k, 0) + v
        passes = len({o.split("-")[0] for o in untraced_ops})
        rows_out = sum(r.rows for r in results if r.name in untraced_ops)
        out = {
            "wire.requests": sum(wire[k] for k in ("metadata", "probe", "count", "data", "rejected")) / passes,
            "wire.mb": wire["bytes"] / 2**20 / passes,
            "wire.data_pages": wire["data"] / passes,
            "wire.metadata_requests": wire["metadata"] / passes,
            "wire.probe_requests": wire["probe"] / passes,
            "wire.count_probes": wire["count"] / passes,
            "wire.rejected": wire["rejected"] / passes,
            "wire.bytes_per_row_out": wire["bytes"] / max(rows_out, 1),
            "wire.useful_ratio": rows_out / max(wire["rows"], 1),  # rows delivered / rows the service sent
        }

        url = f"{self.base}/v4/Items"
        opts = {"url": url, "auto_partition_rows": str(V4_ROWS // PARTITIONS)}
        with tr.span("schema", "odata"):
            t0 = time.perf_counter()
            clear_edm_cache()
            ds = ODataDataSource(opts)
            schema = ds.schema()
            out["odata.schema_s"] = time.perf_counter() - t0
        reader = ds.reader(schema)
        with tr.span("partitions", "odata"):
            t0 = time.perf_counter()
            parts = reader.partitions()
            out["odata.partitions_s"] = time.perf_counter() - t0
        out["odata.partitions"] = len(parts)

        flt = [EqualTo(("Country",), self.filter_country)]
        t0 = time.perf_counter()
        for _ in range(2000):
            translate_filters(flt, 4)
        out["odata.filter_translate_s"] = (time.perf_counter() - t0) / 2000

        # Drain the same partitions in this process, no Spark involved.
        t0 = time.perf_counter()
        n = 0
        with tr.span("read_inproc", "odata"):
            for p in parts:
                for _ in reader.read(p):
                    n += 1
        drain_s = time.perf_counter() - t0
        out["odata.read_rows_per_s_inproc"] = n / drain_s

        # Page-level split of one page chain: fetch, JSON parse, decode.
        http = HttpClient()
        page_url = ODataQueryBuilder(base_url=url, odata_version=4, top=V4_ROWS // PARTITIONS,
                                     skip=0, orderby=["ItemID"]).build()
        fetch_s = parse_s = decode_s = 0.0
        pages = rows = nbytes = 0
        while page_url:
            with tr.span("http.get", "core.http"):
                t0 = time.perf_counter()
                resp = http.get(page_url, headers={"Accept": "application/json"})
                t1 = time.perf_counter()
            with tr.span("json", "odata"):
                doc = resp.json()
                t2 = time.perf_counter()
            with tr.span("decode_rows", "odata"):
                decoded = decode_rows(doc, schema)
                t3 = time.perf_counter()
            fetch_s += t1 - t0
            parse_s += t2 - t1
            decode_s += t3 - t2
            pages += 1
            rows += len(decoded)
            nbytes += len(resp.raw)
            link = next_link(doc)
            page_url = link if link else None
        out["http.fetch_s_per_page"] = fetch_s / pages
        out["odata.json_parse_s_per_mb"] = parse_s / (nbytes / 2**20)
        out["odata.decode_s_per_krow"] = decode_s / (rows / 1000)

        # Python boundary: the full scan's summed task time minus the
        # in-process drain of the same partitions.
        scan_ops = [o for o in traced_ops if o.endswith("-full_v4")]
        if scan_ops:
            task_s = sum(group_metrics[o]["spark.task_s"] for o in scan_ops) / len(scan_ops)
            out["python.boundary_s"] = task_s - drain_s
        return out
