import os, sys, time, json
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from gpu_olap_engine_spark.config import EngineConfig
from gpu_olap_engine_spark.operators import dedup as D
from gpu_olap_engine_spark.queries.tables import T
from gpu_olap_engine_spark.session import get_spark

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/spark_graft_sf1")
cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
spark = get_spark(EngineConfig(extra_confs={"spark.ui.enabled":"false","spark.sql.ui.retainedExecutions":"4"}), master=f"local[{cpus}]")
spark.sparkContext.setLogLevel("ERROR")
docs = T(spark, sf_dir, "documents")

def verify_shj(shingle_df, pairs):
    sizes = shingle_df.groupBy("id").agg(F.count("*").alias("n"))
    sh_a = shingle_df.withColumnRenamed("id", "id_a")
    sh_b = shingle_df.withColumnRenamed("id", "id_b")
    inter = (
        pairs.hint("SHUFFLE_HASH").join(sh_a, "id_a")
        .join(sh_b.hint("SHUFFLE_HASH"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id","id_a").withColumnRenamed("n","n_a"), "id_a")
        .join(sizes.withColumnRenamed("id","id_b").withColumnRenamed("n","n_b"), "id_b")
        .select("id_a","id_b",
                (F.col("n_inter").cast("double")/(F.col("n_a")+F.col("n_b")-F.col("n_inter"))).alias("jaccard"))
    )

def build(mode):
    spark.catalog.clearCache()
    sh = D.shingles(docs, "doc_id", "text", 3).persist()
    pairs = D.lsh_candidate_pairs(D.minhash_signatures(sh))
    v = D.jaccard_verify(sh, pairs) if mode=="cur" else verify_shj(sh, pairs)
    return v.filter(F.col("jaccard") >= 0.5)

a, b = build("cur"), build("shj")
d = a.exceptAll(b).count() + b.exceptAll(a).count()
print("identity diff:", d); assert d == 0

runs = {"cur": [], "shj": []}
for rep in range(5):
    for m in ("cur","shj"):
        t0=time.perf_counter()
        build(m).write.format("noop").mode("overwrite").save()
        runs[m].append(round(time.perf_counter()-t0,3))
print(json.dumps({m:{"runs":r,"min":min(r)} for m,r in runs.items()}))
spark.stop()
