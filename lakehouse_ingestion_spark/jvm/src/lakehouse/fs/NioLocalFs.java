package lakehouse.fs;

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
 * The checksummed local AbstractFileSystem ({@code fs.AbstractFileSystem.file.impl}), which
 * FileContext and so Spark's streaming checkpoints use: the stock LocalFs over
 * {@link NioRawLocalFileSystem}.
 */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Raw(conf));
  }

  /** The stock RawLocalFs, delegating to {@link NioRawLocalFileSystem}. */
  static class Raw extends DelegateToFileSystem {
    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
