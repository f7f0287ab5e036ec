package stedi.spark;

import java.lang.reflect.Field;
import java.util.Collections;
import java.util.List;
import java.util.Map;

import org.apache.hadoop.conf.Configuration;
import org.apache.spark.SparkContext;
import org.apache.spark.api.plugin.DriverPlugin;
import org.apache.spark.api.plugin.ExecutorPlugin;
import org.apache.spark.api.plugin.PluginContext;
import org.apache.spark.api.plugin.SparkPlugin;

/**
 * A driver plugin that makes the context's Hadoop conf load only
 * core-default.xml and core-site.xml. A stock conf also loads every
 * default resource a Hadoop class registers: JobConf adds
 * mapred-default.xml and yarn-default.xml, which hold 714 of its 1,117
 * properties and which a local[...] session never reads. Every conf
 * copy (SessionState.newHadoopConf, the conf each stream-stream join
 * plan copy broadcasts, the one in each write task's closure) pays for
 * each property it holds.
 *
 * Plugins start while SparkContext is constructed, after its Hadoop
 * conf exists and before any session copies it. Copies inherit the
 * conf's private loadDefaults flag, so they stay lean too, and
 * Configuration.addDefaultResource reloads only confs that load
 * defaults, so a later JobConf or YarnConfiguration class load adds
 * nothing. Hadoop has no public setter for the flag or for the order
 * of a conf's resources, so both are set by reflection.
 */
public class LeanHadoopConf implements SparkPlugin {
  @Override
  public DriverPlugin driverPlugin() {
    return new DriverPlugin() {
      @Override
      public Map<String, String> init(SparkContext sc, PluginContext ctx) {
        apply(sc.hadoopConfiguration());
        return Collections.emptyMap();
      }
    };
  }

  @Override
  public ExecutorPlugin executorPlugin() {
    return null;
  }

  /**
   * Reloads conf from core-default.xml, core-site.xml and then its own
   * resources, the order a stock conf loads them in, instead of from
   * every default resource. Values set in code live in its overlay,
   * which is applied last, as before.
   */
  public static void apply(Configuration conf) {
    try {
      Field loadDefaults = Configuration.class.getDeclaredField("loadDefaults");
      Field resources = Configuration.class.getDeclaredField("resources");
      loadDefaults.setAccessible(true);
      resources.setAccessible(true);
      synchronized (conf) {
        loadDefaults.setBoolean(conf, false);
        conf.addResource("core-default.xml");
        conf.addResource("core-site.xml");
        Collections.rotate((List<?>) resources.get(conf), 2);
        conf.reloadConfiguration();
        // Load now, as SparkContext does, so copies need not.
        conf.size();
      }
    } catch (ReflectiveOperationException e) {
      throw new IllegalStateException("Hadoop's Configuration has changed its fields", e);
    }
  }
}
