package graft.engine

import com.esotericsoftware.kryo.Kryo
import org.apache.spark.serializer.KryoRegistrator

/**
 * Kryo registration for the classes the frontier keeps in serialized
 * cached blocks and ships through the side plane's shuffle (prior runs'
 * pages). Unregistered Kryo prefixes each object graph with full
 * class-name strings; registered ids are varints. The wave's candidate
 * shuffle does not go through Kryo: it has its own fixed codec,
 * [[CandidateSerializer]], and resume's one shuffle is Java-serialized.
 */
class GraftKryoRegistrator extends KryoRegistrator {
  override def registerClasses(kryo: Kryo): Unit = {
    kryo.register(classOf[graft.model.UrlRecord])
    kryo.register(classOf[graft.model.FetchResult])
    kryo.register(classOf[graft.model.Span])
    kryo.register(classOf[graft.model.Document])
    kryo.register(classOf[graft.model.FollowUp])
    kryo.register(classOf[BucketSeen])
    kryo.register(classOf[BucketWave])
    kryo.register(classOf[RefState])
    kryo.register(classOf[graft.seen.SeenSet128])
    kryo.register(classOf[graft.seen.SeenChunk])
    kryo.register(classOf[Array[Int]])
    kryo.register(classOf[Array[graft.model.UrlRecord]])
    kryo.register(classOf[Array[graft.model.Span]])
    kryo.register(classOf[Array[String]])
    kryo.register(classOf[Array[Long]])
    kryo.register(classOf[Array[Byte]])
    kryo.register(classOf[scala.Tuple2[_, _]])
    kryo.register(classOf[scala.collection.immutable.Map[_, _]])
    kryo.register(scala.collection.immutable.Map.empty[String, String].getClass)
    kryo.register(scala.collection.immutable.Nil.getClass)
    kryo.register(classOf[scala.collection.immutable.List[_]])
    kryo.register(classOf[scala.collection.immutable.$colon$colon[_]])
  }
}
