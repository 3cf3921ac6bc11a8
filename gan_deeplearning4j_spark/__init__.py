"""gan_deeplearning4j_spark — a PySpark-native tabular + tensor-column dataflow engine.

Re-expresses the capabilities of the reference repo
``hamaadshah/gan_deeplearning4j`` (distributed DCGAN feature engineering:
CSV → normalize → batch → adversarial train via map-fit + parameter-average
reduce → infer → CSV) as idiomatic Spark DataFrame / SQL plans, plus the
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) required for large-scale training-data work.

Layout:
- ``session``    SparkSession factory (Arrow on, AQE on, seeded RNG config)
- ``io``         sources/sinks (SURVEY §2.1 S1-S10)
- ``functions``  column-expression library (elementwise, vector, text, random)
- ``operators``  relational / aggregate / weights / dedup / similarity / graph ops
- ``kernels``    numpy tensor kernels (dense, conv2d, pool, upsample) and
                 their mapInArrow forward pass
- ``pipeline``   GAN pipeline orchestration (graph builder, fit loop, transfer)
- ``streaming``  Structured Streaming facades (tumbling windows over events)
- ``registry``   the ``register`` decorator and the REGISTRY it fills
- ``queries``    the query modules' order and the ordered views that
                 __spark_entry__.py and bench.py read
"""

__version__ = "0.1.0"

DEFAULT_SEED = 666  # reference: dl4jGANComputerVision.java:75 ("numberOfTheBeast")
