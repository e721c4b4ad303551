"""Driver-side persistence for the Python ML stages.

pyspark's ``DefaultParamsWriter.saveMetadata`` writes a stage's one-line
JSON metadata with ``spark.createDataFrame([(json,)]).write.text``.  That
frame is backed by a Python RDD, so every save runs a Spark job on a
Python worker.  The reference's custom stages are Scala ``MLWritable``s
(``OneVsRestCustomModel.scala:144-237``, ``PlattScalar.scala:363-399``),
whose metadata write never leaves the JVM.  This module writes the same
JSON from the driver, through the Hadoop ``FileSystem`` of the path: the
on-disk layout and every loader are unchanged, and no Spark job starts.
"""

from __future__ import annotations

import os

from pyspark.ml import PipelineModel
from pyspark.ml.pipeline import PipelineModelWriter, PipelineSharedReadWrite
from pyspark.ml.util import DefaultParamsWriter, JavaMLWriter, MLWritable, MLWriter
from pyspark.sql import SparkSession


def write_metadata(
    instance, path: str, spark: SparkSession, extraMetadata: dict | None = None,
    paramMap: dict | None = None,
) -> None:
    """Write ``<path>/metadata/part-00000`` and ``_SUCCESS`` with the JSON
    pyspark's ``DefaultParamsWriter.saveMetadata`` would write.  Files are
    created with ``overwrite=False``, so a save over an existing stage
    without ``.overwrite()`` fails, as it does in pyspark."""
    text = DefaultParamsWriter._get_metadata_to_save(
        instance, spark, extraMetadata, paramMap
    )
    Path = spark._jvm.org.apache.hadoop.fs.Path
    metadata = Path(os.path.join(path, "metadata"))
    fs = metadata.getFileSystem(spark._jsc.hadoopConfiguration())
    for name, data in (("part-00000", text + "\n"), ("_SUCCESS", "")):
        out = fs.create(Path(metadata, name), False)
        try:
            out.write(bytearray(data.encode("utf-8")))
        finally:
            out.close()


class ParamsWriter(DefaultParamsWriter):
    """``DefaultParamsWriter`` whose metadata write starts no Spark job."""

    def saveImpl(self, path: str) -> None:
        write_metadata(self.instance, path, self.sparkSession)


class ParamsWritable(MLWritable):
    """Mixin for stages whose state is all JSON-serializable params; loads
    back with ``DefaultParamsReadable``."""

    def write(self) -> MLWriter:
        return ParamsWriter(self)


class _PipelineModelWriter(PipelineModelWriter):
    """``PipelineSharedReadWrite.saveImpl`` with the pipeline's own metadata
    written by :func:`write_metadata`: same stage paths, same
    ``{"stageUids", "language": "Python"}`` param map.  ``save`` is
    inherited, so anything that wraps ``PipelineModelWriter.save`` still
    sees these saves."""

    def saveImpl(self, path: str) -> None:
        stages = self.instance.stages
        PipelineSharedReadWrite.validateStages(stages)
        write_metadata(
            self.instance, path, self.sparkSession,
            paramMap={"stageUids": [s.uid for s in stages], "language": "Python"},
        )
        stages_dir = os.path.join(path, "stages")
        for index, stage in enumerate(stages):
            stage.write().session(self.sparkSession).save(
                PipelineSharedReadWrite.getStagePath(
                    stage.uid, index, len(stages), stages_dir
                )
            )


def save_pipeline(model: PipelineModel, path: str) -> None:
    """Save ``model`` to ``path``, replacing whatever is there.  An all-JVM
    pipeline keeps its ``JavaMLWriter``, so it stays loadable from Scala."""
    writer = model.write()
    if not isinstance(writer, JavaMLWriter):
        writer = _PipelineModelWriter(model)
    writer.overwrite().save(path)
