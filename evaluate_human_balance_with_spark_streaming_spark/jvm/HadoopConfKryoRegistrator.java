package stedi.spark;

import java.util.ArrayList;
import java.util.List;
import java.util.Map;

import com.esotericsoftware.kryo.Kryo;
import com.esotericsoftware.kryo.Serializer;
import com.esotericsoftware.kryo.io.Input;
import com.esotericsoftware.kryo.io.Output;
import org.apache.hadoop.conf.Configuration;
import org.apache.spark.serializer.KryoRegistrator;
import org.apache.spark.util.SerializableConfiguration;

/**
 * Registers a plain Kryo serializer for SerializableConfiguration.
 * Spark's own registration sends it through Java serialization to
 * Configuration.write, which gzips every property's source array with
 * a Deflater of its own: 115 KB and about 8 ms for the 1,117
 * properties of a stock Hadoop conf, on each of the many conf
 * broadcasts every streaming micro-batch plans. (Local sessions hold
 * about 400, see LeanHadoopConf.) A registrator runs after Spark's
 * registrations, so this one replaces that entry.
 */
public class HadoopConfKryoRegistrator implements KryoRegistrator {
  @Override
  public void registerClasses(Kryo kryo) {
    kryo.register(SerializableConfiguration.class, new ConfSerializer());
  }

  /**
   * Writes each property's key, raw (unexpanded) value and last
   * recorded source; reads them back the way Configuration.readFields
   * does, into a conf that loads no default resources. Only the last
   * source is kept because Configuration.set records one.
   */
  public static class ConfSerializer extends Serializer<SerializableConfiguration> {
    @Override
    public void write(Kryo kryo, Output out, SerializableConfiguration sc) {
      Configuration conf = sc.value();
      List<Map.Entry<String, String>> props = new ArrayList<>();
      conf.iterator().forEachRemaining(props::add);
      out.writeVarInt(props.size(), true);
      for (Map.Entry<String, String> p : props) {
        String[] sources = conf.getPropertySources(p.getKey());
        out.writeString(p.getKey());
        out.writeString(p.getValue());
        out.writeString(sources == null || sources.length == 0 ? null : sources[sources.length - 1]);
      }
    }

    @Override
    public SerializableConfiguration read(
        Kryo kryo, Input in, Class<SerializableConfiguration> type) {
      Configuration conf = new Configuration(false);
      for (int n = in.readVarInt(true); n > 0; n--) {
        conf.set(in.readString(), in.readString(), in.readString());
      }
      return new SerializableConfiguration(conf);
    }
  }
}
