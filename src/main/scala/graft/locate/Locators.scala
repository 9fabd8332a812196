package graft.locate

import graft.model.{Annotation, Dtype}

/** Pure URL synthesis for the recount3 layout — no IO, no Spark.
  * Reference semantics: locator.py:83-164 (ProjectLocator),
  * locator.py:176-187 (MetadataLocator), locator.py:66-80 (sharding).
  */
object Locators {

  /** URL path join: empty parts dropped, one `/` between the rest. */
  private[locate] def join(parts: String*): String =
    parts.filter(_.nonEmpty).map(_.stripSuffix("/")).mkString("/")

  /** Shard directory = last two characters of the id (locator.py:70). */
  def shard(id: String): String = id.takeRight(2)

  /** One corpus-metadata URL per data source (locator.py:176-187):
    * {root_organism_url}/{dsource}/metadata/{basename(dsource)}.recount_project.MD.gz
    */
  def metadataUrls(rootOrganismUrl: String, dataSources: Map[String, String]): List[String] =
    dataSources.values.toList.sorted.map { dsource =>
      join(rootOrganismUrl, dsource, Dtype.Metadata.tag,
        dsource.split('/').last + ".recount_project.MD.gz")
    }
}

/** Per-(dbase, dtype, projects) URL generation (locator.py:83-164). */
final case class ProjectLocator(
    rootOrganismUrl: String,
    dataSources: Map[String, String],
    dbase: String,
    dtype: Dtype,
    annotation: Option[Annotation],
    projectIds: List[String],
    sample: List[String] = Nil,
    jxnFormat: Option[String] = None) {

  require(
    !(Set[Dtype](Dtype.Gene, Dtype.Exon).contains(dtype) && annotation.isEmpty),
    s"`annotation` is required when `dtype` is $dtype")
  require(!(dtype == Dtype.Bw && sample.isEmpty),
    s"`sample` is required when `dtype` is ${Dtype.Bw}")

  import Locators.join

  private def projectBase: String =
    join(rootOrganismUrl, dataSources(dbase), dtype.tag)

  private def tagExt: Seq[(String, String)] =
    for {
      t <- Dtype.tags(dtype, dbase)
      e <- Dtype.extensions(dtype)
    } yield (t, e)

  /** Every file URL for the configured combination, in the reference's
    * generation order (projects outermost, tags × extensions inner).
    */
  def urls: List[String] = dtype match {
    case Dtype.Metadata =>
      projectIds.flatMap { pid =>
        tagExt.map { case (t, e) =>
          join(projectBase, Locators.shard(pid), pid, s"$dbase.$t.$pid.$e")
        }
      }

    case Dtype.Jxn =>
      val fmt = jxnFormat.getOrElse(
        throw new IllegalArgumentException("jxnFormat required for JXN")).toUpperCase
      projectIds.flatMap { pid =>
        tagExt.map { case (t, e) =>
          join(projectBase, Locators.shard(pid), pid, s"$dbase.$t.$pid.$fmt.$e")
        }
      }

    case Dtype.Gene | Dtype.Exon =>
      val ann = annotation.get
      val organism = rootOrganismUrl.split('/').last
      val annotationUrls = Dtype.extensions(dtype).map { e =>
        join(rootOrganismUrl, "annotations", dtype.tag,
          s"$organism.${dtype.tag}.${ann.code}.$e")
      }
      val countUrls = projectIds.flatMap { pid =>
        Dtype.tags(dtype, dbase).map { t =>
          join(projectBase, Locators.shard(pid), pid, s"$dbase.$t.$pid.${ann.code}.gz")
        }
      }
      annotationUrls.toList ++ countUrls

    case Dtype.Bw =>
      projectIds.flatMap { pid =>
        sample.flatMap { sid =>
          tagExt.map { case (t, e) =>
            join(projectBase, Locators.shard(pid), pid, Locators.shard(sid),
              s"$dbase.$t.${pid}_$sid.$e")
          }
        }
      }
  }
}
