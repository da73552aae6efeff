package fink_broker_spark.core.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * The {@code FileContext} side of {@link NioLocalFileSystem}: Hadoop's
 * LocalFs (a ChecksumFs over RawLocalFs) with NioLocalFileSystem.Raw as
 * the delegate. Streaming checkpoints and {@code _spark_metadata} are
 * written through it.
 */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf)
      throws IOException, URISyntaxException {
    super(new Raw(conf));
  }

  /** RawLocalFs (whose constructors are package-private), same overrides. */
  static class Raw extends DelegateToFileSystem {
    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NioLocalFileSystem.Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      // Hadoop's RawLocalFs accepts every name (e.g. Windows drive letters)
      return true;
    }
  }
}
